package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, typedlit}
import org.apache.spark.sql.types._

/** Fused, codegen'd vector kernels (SURVEY.md §4 "custom Catalyst work").
  *
  * The HOF formulation in [[VectorFunctions]] ([[org.apache.spark.sql.functions.zip_with]] +
  * `aggregate`) is correct and codegen'd, but materializes an intermediate
  * array per row and makes 2·dim lambda evaluations. These expressions do a
  * single primitive loop per row with no allocation — the shape you want
  * when scoring billions of vectors in a brute-force kNN scan (the
  * reference's retrieval model is exactly such a scan,
  * `/root/reference/search_with_segments.py:156-164`).
  *
  * [[CosineSimilarityExpr]] is additionally *fused*: dot, ‖a‖² and ‖b‖² in
  * one pass instead of three.
  *
  * Elements are widened to Double before multiply/accumulate — identical
  * fold order and precision as the HOF versions, so the two formulations
  * are bit-compatible and interchangeable under tests: mismatched lengths
  * yield NULL (as `zip_with`'s null-padding does) and a zero-norm cosine
  * yields NULL (as the `nullif`-guarded HOF cosine does). Null array
  * *elements* are not supported (embedding vectors never have them).
  */
trait VectorBinaryArithmetic extends BinaryExpression {
  override def dataType: DataType = DoubleType
  // NULL is also produced for length-mismatch / zero-norm inputs, not just
  // null children.
  override def nullable: Boolean = true

  protected def elementType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (elementType(left), elementType(right)) match {
      case (Some(_), Some(_)) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float|double> inputs, " +
          s"got ${left.dataType.catalogString}, ${right.dataType.catalogString}")
    }

  protected def getter(e: Expression): String =
    if (elementType(e).contains(FloatType)) "getFloat" else "getDouble"

  // Element types resolved once per expression instance: the interpreted
  // path (the serving session's) reads every element through these, and
  // re-matching the child's data type per element cost an Option each.
  @transient protected lazy val leftFloat: Boolean = elementType(left).contains(FloatType)
  @transient protected lazy val rightFloat: Boolean = elementType(right).contains(FloatType)
}

private[graft] object VectorKernels {
  @inline def at(a: ArrayData, isFloat: Boolean, i: Int): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** The interpreted `graft_cosine`: Σab / sqrt(Σa²·Σb²) in one pass,
    * elements widened to double; null on a length mismatch or a zero
    * norm. */
  def cosine(a: ArrayData, fa: Boolean, b: ArrayData, fb: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = at(a, fa, i); val y = at(b, fb, i)
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else dot / denom
  }

  /** [[cosine]] over vectors already widened on the driver: the same
    * pass in the same order, so the same bits as the SQL function. The
    * driver-side scorers use it: the graph hot tier, mmr's pool matrix
    * and the driver-served whole mode. */
  def cosine(a: Array[Double], b: Array[Double]): java.lang.Double = {
    val n = a.length
    if (n != b.length) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a(i); val y = b(i)
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else dot / denom
  }
}

/** Σ aᵢ·bᵢ in one primitive-array pass. */
case class DotProductExpr(left: Expression, right: Expression)
    extends VectorBinaryArithmetic {
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    val fa = leftFloat; val fb = rightFloat
    var s = 0.0; var i = 0
    while (i < n) { s += VectorKernels.at(a, fa, i) * VectorKernels.at(b, fb, i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n"); val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += ((double) $a.${getter(left)}($i)) * ((double) $b.${getter(right)}($i));
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** cos(a,b) = Σab / sqrt(Σa²·Σb²), all three sums in ONE pass. */
case class CosineSimilarityExpr(left: Expression, right: Expression)
    extends VectorBinaryArithmetic {
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(l: Any, r: Any): Any =
    VectorKernels.cosine(l.asInstanceOf[ArrayData], leftFloat, r.asInstanceOf[ArrayData], rightFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb"); val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val denom = ctx.freshName("denom")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $x = (double) $a.${getter(left)}($i);
         |    double $y = (double) $b.${getter(right)}($i);
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |  if ($denom == 0.0) { ${ev.isNull} = true; }
         |  else { ${ev.value} = $dot / $denom; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** ‖a‖₂ in one pass. */
case class L2NormExpr(child: Expression) extends UnaryExpression {
  override def prettyName: String = "graft_l2norm"
  override def dataType: DataType = DoubleType

  @transient private lazy val isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_l2norm requires array<float|double>, got ${t.catalogString}")
  }

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val f = isFloat
    var s = 0.0; var i = 0; val n = a.numElements()
    while (i < n) {
      val x = VectorKernels.at(a, f, i)
      s += x * x; i += 1
    }
    math.sqrt(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val s = ctx.freshName("s"); val x = ctx.freshName("x")
      val g = if (isFloat) "getFloat" else "getDouble"
      s"""
         |int $n = $a.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = (double) $a.$g($i);
         |  $s += $x * $x;
         |}
         |${ev.value} = java.lang.Math.sqrt($s);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Per-row argmax-cosine cluster assignment against a LITERAL centroid
  * codebook: `nearest_centroid(v, ids, cents)` returns the id of the
  * centroid with the highest cosine similarity to `v` (ties → smallest
  * id, matching `ORDER BY cos DESC, cid`).
  *
  * This is the shuffle-free IVF assignment path: an IVF codebook is an
  * index artifact, small by construction (≈√N lists even at lake scale),
  * so it ships inside the plan as a foldable literal and every row
  * computes its own argmax in one fused loop — no crossJoin row
  * multiplication, no per-vector-id window Exchange. The codebook
  * (id-sorted, norms precomputed) is deserialized once per expression
  * instance, not per row.
  *
  * NULL for: null input, empty codebook, dimension mismatch, or a
  * zero-norm input vector (cosine undefined everywhere). Zero-norm
  * CENTROIDS are skipped (no row assigns to them). */
case class NearestCentroidExpr(vec: Expression, ids: Expression, cents: Expression)
    extends TernaryExpression {
  override def prettyName: String = "graft_nearest_centroid"
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def first: Expression = vec
  override def second: Expression = ids
  override def third: Expression = cents

  private def vecIsFloat: Boolean = vec.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val vecOk = vec.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    val idsOk = ids.foldable && (ids.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    val centsOk = cents.foldable && (cents.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) => true
      case _ => false
    })
    if (vecOk && idsOk && centsOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float|double>, foldable array<bigint>, " +
        s"foldable array<array<double>>), got ${vec.dataType.catalogString}, " +
        s"${ids.dataType.catalogString}, ${cents.dataType.catalogString}")
  }

  // Codebook unpacked once per (deserialized) instance: id-ascending order
  // so the strict `>` comparison below yields the smallest id on ties.
  @transient private lazy val book: (Array[Long], Array[Array[Double]], Array[Double]) = {
    val idData = ids.eval().asInstanceOf[ArrayData]
    val cData = cents.eval().asInstanceOf[ArrayData]
    val n = idData.numElements()
    require(cData.numElements() == n,
      s"$prettyName: ids ($n) and centroids (${cData.numElements()}) differ in length")
    val pairs = Array.tabulate(n)(i => (idData.getLong(i), cData.getArray(i).toDoubleArray()))
      .sortBy(_._1)
    val norms = pairs.map { case (_, c) =>
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }
      math.sqrt(s)
    }
    (pairs.map(_._1), pairs.map(_._2), norms)
  }

  /** Long.MinValue is the "no assignment" sentinel the codegen path maps
    * to SQL NULL. Public because generated code calls it via a plan
    * reference object. */
  def nearestId(a: ArrayData): Long = {
    val (idArr, centArr, normArr) = book
    if (idArr.isEmpty) return Long.MinValue
    val dim = a.numElements()
    if (dim != centArr(0).length) return Long.MinValue
    val isF = vecIsFloat
    var nv = 0.0
    var i = 0
    while (i < dim) {
      val x = if (isF) a.getFloat(i).toDouble else a.getDouble(i)
      nv += x * x; i += 1
    }
    if (nv == 0.0) return Long.MinValue
    val qn = math.sqrt(nv)
    var best = Long.MinValue
    var bestCos = Double.NegativeInfinity
    var c = 0
    while (c < idArr.length) {
      if (normArr(c) > 0.0) {
        val cv = centArr(c)
        var dot = 0.0
        i = 0
        while (i < dim) {
          val x = if (isF) a.getFloat(i).toDouble else a.getDouble(i)
          dot += x * cv(i); i += 1
        }
        val cos = dot / (qn * normArr(c))
        if (cos > bestCos) { bestCos = cos; best = idArr(c) }
      }
      c += 1
    }
    best
  }

  override def nullSafeEval(v: Any, idsV: Any, centsV: Any): Any = {
    val r = nearestId(v.asInstanceOf[ArrayData])
    if (r == Long.MinValue) null else r
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCentroid", this, classOf[NearestCentroidExpr].getName)
    nullSafeCodeGen(ctx, ev, (a, _, _) => {
      val r = ctx.freshName("nid")
      s"""
         |long $r = $ref.nearestId($a);
         |if ($r == Long.MIN_VALUE) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r; }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(vec = f, ids = s, cents = t)
}

/** Registration + Column-level accessors for the fused kernels.
  *
  * Registered through the session FunctionRegistry and invoked via
  * `call_function` — stable across Spark 4.x Column internals, and makes
  * the kernels usable from `spark.sql("... graft_cosine(a, b) ...")` too.
  */
object VectorExpressions {
  /** Idempotent per-session registration probed via the session's own
    * FunctionRegistry — no references to SparkSession are retained here, so
    * stopped sessions (e.g. per-test sessions) remain garbage-collectable. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("graft_dot"))) {
      reg.createOrReplaceTempFunction("graft_dot", es => DotProductExpr(es(0), es(1)), "built-in")
      reg.createOrReplaceTempFunction("graft_cosine", es => CosineSimilarityExpr(es(0), es(1)), "built-in")
      reg.createOrReplaceTempFunction("graft_l2norm", es => L2NormExpr(es.head), "built-in")
      reg.createOrReplaceTempFunction("graft_nearest_centroid",
        es => NearestCentroidExpr(es(0), es(1), es(2)), "built-in")
    }
  }

  def fusedDot(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark); call_function("graft_dot", a, b)
  }
  def fusedCosine(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark); call_function("graft_cosine", a, b)
  }
  def fusedL2Norm(spark: SparkSession, a: Column): Column = {
    register(spark); call_function("graft_l2norm", a)
  }

  /** Argmax-cosine assignment of `vec` against a small driver-held
    * codebook (see [[NearestCentroidExpr]]). `cents` rides into the plan
    * as a foldable literal — broadcast-by-construction, zero shuffle. */
  def nearestCentroid(spark: SparkSession, vec: Column,
      ids: Seq[Long], cents: Seq[Seq[Double]]): Column = {
    register(spark)
    call_function("graft_nearest_centroid", vec, typedlit(ids), typedlit(cents))
  }
}
