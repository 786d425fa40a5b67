package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The fused vector kernels' interpreted `eval` (the serving session's
  * path) against their generated code, bit for bit: float and double
  * elements on either side, a length mismatch and a zero norm. No
  * SparkSession needed — both paths run on one bound row. */
class VectorKernelEvalSpec extends AnyFunSuite {

  private def arr(t: DataType, xs: Seq[Double]): ArrayData = t match {
    case FloatType => ArrayData.toArrayData(xs.map(_.toFloat).toArray)
    case _ => ArrayData.toArrayData(xs.toArray)
  }

  /** (interpreted, compiled) results of `e` on `row`, as raw bits. */
  private def both(e: Expression, row: InternalRow): (Option[Long], Option[Long]) = {
    def bits(v: Any): Option[Long] =
      Option(v).map(d => java.lang.Double.doubleToRawLongBits(d.asInstanceOf[Double]))
    val compiled = GenerateUnsafeProjection.generate(Seq(e)).apply(row)
    (bits(e.eval(row)), if (compiled.isNullAt(0)) None else bits(compiled.getDouble(0)))
  }

  private val types = Seq(FloatType, DoubleType)
  private val rnd = new scala.util.Random(7)

  private def check(a: Seq[Double], b: Seq[Double], expectNull: Set[String]): Unit =
    for (ta <- types; tb <- types) {
      val l = BoundReference(0, ArrayType(ta, containsNull = false), nullable = true)
      val r = BoundReference(1, ArrayType(tb, containsNull = false), nullable = true)
      val row = InternalRow(arr(ta, a), arr(tb, b))
      Seq(DotProductExpr(l, r), CosineSimilarityExpr(l, r), L2NormExpr(l), L2NormExpr(r))
        .foreach { e =>
          val (interp, comp) = both(e, row)
          assert(interp === comp, s"${e.prettyName} ($ta, $tb) on $a, $b")
          assert(interp.isEmpty === expectNull(s"${e.prettyName}"),
            s"${e.prettyName} ($ta, $tb) null-ness on $a, $b")
        }
    }

  test("eval equals codegen bit for bit on float and double inputs") {
    (1 to 20).foreach { _ =>
      val n = 1 + rnd.nextInt(96)
      check(Seq.fill(n)(rnd.nextGaussian()), Seq.fill(n)(rnd.nextGaussian() * 3.0),
        expectNull = Set.empty)
    }
  }

  test("length mismatch is NULL on both paths") {
    check(Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0),
      expectNull = Set("graft_dot", "graft_cosine"))
  }

  test("zero-norm cosine is NULL on both paths; its norm is 0.0") {
    check(Seq(0.0, 0.0), Seq(1.5, -2.0), expectNull = Set("graft_cosine"))
  }
}
