package graftbench

import org.json4s.jackson.JsonMethods

/** The benchmark's own tests: `python3 perfbench/run.py --self-test`.
  * No Spark session is needed; exits non-zero on the first failure. */
object SelfTest {

  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = scala.util.Try(cond).getOrElse(false)
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  private val corpus = Gen.Corpus(images = 250, vectors = 2000, docs = 5000,
    vocab = IndexedSeq("agg", "batch", "column", "hash", "merge", "query", "spark", "window"),
    tags = (0 until 10).map(i => s"lbl_$i"))

  def main(args: Array[String]): Unit = {
    // the percentile-index rule: nearest rank ⌈p·n⌉
    val xs = (1 to 200).map(_.toDouble)
    check("p50 of 1..200 is the 100th value")(Stats.percentile(xs, 0.5) == 100.0)
    check("p95 of 1..200 is the 190th value, 10 samples beyond it")(
      Stats.percentile(xs, 0.95) == 190.0 && Stats.beyond(200, 0.95) == 10)
    check("p95 of 1..20 is the 19th value")(Stats.percentile(xs.take(20), 0.95) == 19.0)
    check("p50 of one sample is that sample")(Stats.percentile(IndexedSeq(7.0), 0.5) == 7.0)
    check("p1.0 is the maximum")(Stats.percentile(xs, 1.0) == 200.0)

    // the Harrell-Davis estimates the end-to-end latencies are reported as
    def near(a: Double, b: Double) = math.abs(a - b) < 1e-6
    check("HD of one sample is that sample")(near(Stats.hd(IndexedSeq(7.0), 0.95), 7.0))
    check("HD weights sum to one: a constant sample gives the constant")(
      near(Stats.hd(IndexedSeq.fill(37)(0.25), 0.95), 0.25))
    check("HD p50 of the symmetric 1..199 is its middle value")(near(Stats.hd(xs.take(199), 0.5), 100.0))
    check("HD p95 of 1..200 is 190.5")(near(Stats.hd(xs, 0.95), 190.5))
    check("HD p95 draws on the whole tail: slower top values move it less than nearest rank")({
      val (a, b) = (xs.take(40), xs.take(37) ++ Seq(60.0, 60.0, 60.0))
      val moved = Stats.hd(b, 0.95) - Stats.hd(a, 0.95)
      moved > 0 && moved < Stats.percentile(b, 0.95) - Stats.percentile(a, 0.95)
    })

    // the load generator: same seed, same ops; another seed, other ops
    val a = Gen.serveOps(1L, 500, corpus)
    check("same seed gives the same op sequence")(a == Gen.serveOps(1L, 500, corpus))
    check("another seed gives another op sequence")(a != Gen.serveOps(2L, 500, corpus))
    check(s"every block of ${Gen.BlockSize} ops holds each mode exactly its weight")(
      a.grouped(Gen.BlockSize).filter(_.size == Gen.BlockSize)
        .forall(b => b.groupBy(_._1).map { case (m, os) => m -> os.size } == Gen.Weights.toMap))
    check("any 10 consecutive ops hold 6 to 8 point-mode ops")(
      a.sliding(10).forall(w => (6 to 8).contains(w.count(o => Gen.bandOf(o._1) == "point"))))
    check("weights are equal within each band and about 70 % point")(
      Gen.Weights.filter(w => Gen.PointModes.contains(w._1)).map(_._2).distinct.size == 1 &&
        Gen.Weights.filter(w => Gen.ScanModes.contains(w._1)).map(_._2).distinct.size == 1 &&
        math.abs(Gen.PointShare - 0.7) < 0.02)
    check("every mode but centrality is drawn")(
      graft.ServingHttp.OrderedModes.toSet -- Gen.Weights.map(_._1) == Set("centrality"))
    check("every request parses and names its mode")(a.forall { case (m, body) =>
      graft.Serving.parseRequest(body).mode == m })

    // the weights put p50 in the point band and p95 in the scan band of a
    // synthetic two-band sample
    val r = new java.util.Random(3)
    Seq(30, ServeSearch.MinBlocks * Gen.BlockSize, 100, 1000).foreach { n =>
      val lat = Gen.serveOps(9L, n, corpus).map { case (m, _) =>
        (Gen.bandOf(m), if (Gen.bandOf(m) == "point") 0.1 + 0.3 * r.nextDouble() else 1.0 + 2.0 * r.nextDouble())
      }
      val sorted = lat.map(_._2).sorted
      def bandAt(v: Double) = lat.find(_._2 == v).get._1
      check(s"n=$n: p50 in the point band, p95 in the scan band")(
        bandAt(Stats.percentile(sorted, 0.5)) == "point" && bandAt(Stats.percentile(sorted, 0.95)) == "scan" &&
          Stats.hd(sorted, 0.5) < 0.4 && Stats.hd(sorted, 0.95) > 1.0)
    }

    // fingerprints: stable under float noise and row order, not under a
    // changed or missing row
    val rows = Seq("""{"vec_id":3,"score":0.4185008861}""", """{"vec_id":7,"score":0.2961900430}""")
      .map(JsonMethods.parse(_))
    val fp = Fingerprint.ofCanon(rows.map(Fingerprint.canonJson))
    val noisy = Seq("""{"score":0.41850088610000004,"vec_id":3}""", """{"vec_id":7,"score":0.29619004299999996}""")
      .map(JsonMethods.parse(_))
    check("fingerprint ignores float noise and key order")(
      Fingerprint.ofCanon(noisy.map(Fingerprint.canonJson)) == fp)
    check("fingerprint ignores row order")(Fingerprint.ofCanon(rows.reverse.map(Fingerprint.canonJson)) == fp)
    val corrupt = Seq("""{"vec_id":3,"score":0.4185}""", """{"vec_id":7,"score":0.2961900430}""")
      .map(JsonMethods.parse(_))
    check("fingerprint catches one corrupted value")(Fingerprint.ofCanon(corrupt.map(Fingerprint.canonJson)) != fp)
    check("fingerprint catches a missing row")(Fingerprint.ofCanon(rows.take(1).map(Fingerprint.canonJson)) != fp)
    check("fingerprint text round-trips")(Fingerprint.parse(fp.hex) == fp)
    check("Row values are rounded the same way")(
      Fingerprint.canon(org.apache.spark.sql.Row(3L, 0.1 + 0.2, Seq(1.0f, 2.5f))) == "(3,0.3,[1,2.5])")

    // the output checks reject a corrupted response or read
    val good = """{"mode":"graph","top_k":2,"results":[{"vec_id":3,"score":0.9},{"vec_id":7,"score":0.5}]}"""
    check("a well-formed response passes")(ServeSearch.results("graph", 200, good).isDefined)
    check("scores out of order fail")(ServeSearch.results("graph", 200,
      """{"mode":"graph","top_k":2,"results":[{"vec_id":3,"score":0.5},{"vec_id":7,"score":0.9}]}""").isEmpty)
    check("a 503 fails")(ServeSearch.results("graph", 503, good).isEmpty)
    check("an empty result fails")(ServeSearch.results("graph", 200,
      """{"mode":"graph","top_k":2,"results":[]}""").isEmpty)
    check("another mode's envelope fails")(ServeSearch.results("whole", 200, good).isEmpty)
    check("truncated JSON fails")(ServeSearch.results("graph", 200, good.dropRight(3)).isEmpty)
    check("bytes written count new and changed files only")(IndexChurn.written(
      Map("a" -> (10L, 1L), "b" -> (20L, 1L)),
      Map("a" -> (10L, 1L), "b" -> (25L, 2L), "c" -> (7L, 2L))) == 32L)
    check("a read returning a deleted id fails")(
      IndexChurn.noneDeleted(Seq(1L, 2L), Set(5L)) && !IndexChurn.noneDeleted(Seq(1L, 5L), Set(5L)))

    println(if (failures == 0) "all checks passed" else s"$failures checks failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
