package graftbench

import org.apache.spark.sql.{DataFrame, Row}

/** Order statistics used by every workload. */
object Stats {

  /** Nearest-rank percentile of an ascending sample: the smallest value
    * with at least `p`·n samples at or below it (index ⌈p·n⌉ − 1). The
    * 1e-9 slack keeps p·n that is an integer in exact arithmetic from
    * rounding up past it in binary floating point (0.95 × 200). */
  def percentile(sorted: IndexedSeq[Double], p: Double): Double = {
    require(sorted.nonEmpty, "percentile of an empty sample")
    require(p > 0 && p <= 1, s"percentile needs 0 < p <= 1, got $p")
    sorted(rank(sorted.size, p) - 1)
  }

  /** 1-based nearest rank of the p-th percentile in a sample of n. */
  def rank(n: Int, p: Double): Int =
    math.max(1, math.ceil(p * n - 1e-9).toInt)

  /** Harrell–Davis estimate of the p-th quantile of an ascending sample:
    * a weighted mean of every order statistic, the i-th weighted by the
    * mass a Beta(p(n+1), (1−p)(n+1)) puts on ((i−1)/n, i/n]. With tens of
    * samples, a nearest-rank p95 is one of the top two or three values;
    * this estimate draws on the whole upper tail, so it moves less from
    * run to run (Harrell and Davis, Biometrika 69(3), 1982). */
  def hd(sorted: IndexedSeq[Double], p: Double): Double = {
    require(sorted.nonEmpty, "quantile of an empty sample")
    require(p > 0 && p < 1, s"Harrell-Davis needs 0 < p < 1, got $p")
    val n = sorted.size
    val (a, b) = (p * (n + 1), (1 - p) * (n + 1))
    def cdf(x: Double): Double =
      if (x <= 0) 0.0 else if (x >= 1) 1.0
      else org.apache.commons.math3.special.Beta.regularizedBeta(x, a, b)
    sorted.indices.map(i => sorted(i) * (cdf((i + 1).toDouble / n) - cdf(i.toDouble / n))).sum
  }

  /** Samples strictly above the p-th percentile's rank. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  def median(xs: Iterable[Double]): Double = percentile(xs.toIndexedSeq.sorted, 0.5)

  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Rounded-row fingerprints: a result set is reduced to (row count,
  * wrapping sum of 64-bit row hashes), so row order and floating-point
  * noise below the sixth decimal do not change it, while any changed,
  * missing or extra row does. */
object Fingerprint {

  final case class Fp(rows: Long, hash: Long) {
    def hex: String = f"$rows%d:$hash%016x"
    def +(o: Fp): Fp = Fp(rows + o.rows, hash + o.hash)
  }
  val Empty: Fp = Fp(0L, 0L)

  def parse(s: String): Fp = {
    val Array(n, h) = s.split(":")
    Fp(n.toLong, java.lang.Long.parseUnsignedLong(h, 16))
  }

  def roundD(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else {
      val r = BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_EVEN)
      if (r.signum == 0) "0" else r.bigDecimal.stripTrailingZeros.toPlainString
    }

  /** Canonical text of one value; maps are key-sorted. */
  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => roundD(d)
    case f: Float => roundD(f.toDouble)
    case b: java.math.BigDecimal => roundD(b.doubleValue)
    case b: BigDecimal => roundD(b.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString
    case a: Array[_] => a.toSeq.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  def hash64(s: String): Long = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val lo = scala.util.hashing.MurmurHash3.bytesHash(b, 0x3c074a61)
    val hi = scala.util.hashing.MurmurHash3.bytesHash(b, 0x5bd1e995)
    (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
  }

  def ofCanon(rows: Iterable[String]): Fp =
    rows.foldLeft(Empty)((acc, r) => acc + Fp(1, hash64(r)))

  /** Fingerprint of a DataFrame, computed on the executors. */
  def ofFrame(df: DataFrame): Fp =
    df.rdd.mapPartitions { it =>
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += hash64(canon(r)) }
      Iterator((n, h))
    }.collect().foldLeft(Empty) { case (acc, (n, h)) => acc + Fp(n, h) }

  /** Canonical text of a JSON result row (an object of scalars/arrays). */
  def canonJson(v: org.json4s.JValue): String = {
    import org.json4s._
    v match {
      case JObject(fs) => fs.map { case (k, x) => k + "=" + canonJson(x) }.sorted.mkString("{", ",", "}")
      case JArray(xs) => xs.map(canonJson).mkString("[", ",", "]")
      case JDouble(d) => roundD(d)
      case JDecimal(d) => roundD(d.toDouble)
      case JLong(l) => l.toString
      case JInt(i) => i.toString
      case JString(s) => s
      case JBool(b) => b.toString
      case _ => "null"
    }
  }
}
