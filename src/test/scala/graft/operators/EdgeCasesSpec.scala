package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Degenerate inputs through the GENERIC APIs: empty corpora and
  * single-row corpora must flow through every operator without throwing
  * and produce the mathematically right (usually empty) answer. At lake
  * scale these are not corner cases — a block, a partition, or a
  * filtered sub-corpus is routinely empty, and an operator that throws
  * on it kills the whole job. */
class EdgeCasesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val noDocs = Seq.empty[(Long, String)].toDF("id", "text")
    .withColumn("blk", lit("b"))
  private lazy val oneDoc = Seq((1L, "just one lonely document here"))
    .toDF("id", "text").withColumn("blk", lit("b"))
  private lazy val noVecs = Seq.empty[(Long, Seq[Float])].toDF("id", "v")
  private lazy val oneVec = Seq((1L, Seq(1f, 0f, 0f))).toDF("id", "v")
  private lazy val q = Seq(Tuple1(Seq(1f, 0f, 0f))).toDF("qv")

  test("dedup suite: empty and singleton corpora yield empty pair sets") {
    assert(Dedup.exactDuplicates(noDocs, $"id", $"text").count() === 0)
    assert(Dedup.exactDuplicates(oneDoc, $"id", $"text").count() === 1)
    for (df <- Seq(noDocs, oneDoc)) {
      assert(Dedup.jaccardPairs(df, $"id", $"text", $"blk").count() === 0)
      assert(Dedup.minhashPairs(df, $"id", $"text", $"blk").count() === 0)
      assert(Dedup.simhashPairs(df, $"id", $"text", $"blk").count() === 0)
    }
    assert(Dedup.embeddingPairs(noVecs, $"id", $"v").count() === 0)
    assert(Dedup.embeddingPairsLsh(oneVec, $"id", $"v").count() === 0)
  }

  test("dupClusters: empty edge list terminates and yields no clusters") {
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.dupClusters(empty).count() === 0)
    val one = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val m = Dedup.dupClusters(one).as[(Long, Long)].collect().toMap
    assert(m === Map(1L -> 1L, 2L -> 1L))
  }

  test("search: empty corpus answers empty, singleton answers itself") {
    assert(Search.knnBrute(noVecs, $"v", q, k = 5, tie = $"id").count() === 0)
    val hit = Search.knnBrute(oneVec, $"v", q, k = 5, tie = $"id")
      .select("id", "score").as[(Long, Double)].collect()
    assert(hit.toSeq === Seq((1L, 1.0)))
    val qb = Seq((7L, Seq(1f, 0f, 0f))).toDF("qid", "qv")
    assert(Search.knnBatch(noVecs, $"id", $"v", qb, k = 3).count() === 0)
    assert(Search.knnLsh(noVecs, $"id", $"v", q, k = 3).count() === 0)
    val cents = Seq((0L, Seq(1.0, 0.0, 0.0))).toDF("cid", "c")
    assert(Search.knnIvf(noVecs, $"id", $"v", cents, q, nprobe = 1, k = 3).count() === 0)
    // segment scoring with no db segments / no query segments
    val noSegs = Seq.empty[(Long, Seq[Float])].toDF("image_id", "embedding")
    val qSegs = Seq((0L, Seq(1f, 0f, 0f))).toDF("qseg", "qv")
    assert(Search.segmentScores(noSegs, qSegs).count() === 0)
    val dbSegs = Seq((5L, Seq(1f, 0f, 0f))).toDF("image_id", "embedding")
    val noQSegs = Seq.empty[(Long, Seq[Float])].toDF("qseg", "qv")
    assert(Search.segmentScores(dbSegs, noQSegs).count() === 0)
  }

  test("curateFullOn: empty and singleton corpora flow through every stage") {
    val noCorpus = Seq.empty[(Long, String, String, Long)]
      .toDF("doc_id", "text", "lang", "n_chars")
    assert(Pipelines.curateFullOn(noCorpus).count() === 0)
    // NB "the quick brown fox jumps over the lazy dog" would fail the
    // repetition gate here: top_tok_frac = 2/9 ≈ 0.22 > 0.2
    val oneGood = Seq((1L,
      "a quick brown fox jumps over the lazy dog sleeping near his quiet river",
      "en", 72L)).toDF("doc_id", "text", "lang", "n_chars")
    assert(Pipelines.curateFullOn(oneGood).select("doc_id").as[Long].collect()
      === Array(1L))
    // a singleton that fails a gate yields empty, not an error
    val oneBad = Seq((1L, "x", "en", 1L)).toDF("doc_id", "text", "lang", "n_chars")
    assert(Pipelines.curateFullOn(oneBad).count() === 0)
  }

  test("hygieneGated: empty input and all-rejected input both yield empty") {
    val none = Seq.empty[(Long, String)].toDF("id", "text")
    assert(graft.streaming.Streams.hygieneGated(none, "text").count() === 0)
    val rejected = Seq((1L, "zz qq xx yy ww vv uu")).toDF("id", "text")
    assert(graft.streaming.Streams.hygieneGated(rejected, "text").count() === 0)
  }

  test("nearDupPairsStream (batch) and sq8: empty/degenerate inputs flow through") {
    import java.sql.Timestamp
    val none = Seq.empty[(Long, Timestamp, String)].toDF("id", "ts", "text")
    assert(graft.streaming.Streams
      .nearDupPairsStream(none, "id", "text", "ts").count() === 0)
    // zero vector quantizes to NULL codes, not an error
    import graft.functions.VectorFunctions.{sq8Codes, sq8MaxAbs}
    val z = Seq((1L, Seq(0.0, 0.0)), (2L, Seq(3.0, -4.0))).toDF("id", "v")
      .withColumn("ma", sq8MaxAbs($"v"))
      .withColumn("codes", sq8Codes($"v", $"ma"))
      .select("id", "codes").as[(Long, Option[Seq[Int]])].collect().toMap
    assert(z(1L).isEmpty, "zero vector quantizes to NULL, not an error")
    assert(z(2L).contains(Seq(95, -127)), s"codes ⌊x·127/4+½⌋: ${z(2L)}")
  }

  test("quantiles: exact is interpolated, approx lands within rank error") {
    val df = (1 to 100).map(i => ("g", i.toDouble)).toDF("grp", "v")
    val exact = Analytics.quantiles(df, $"grp", $"v", Seq(0.5, 0.99))
      .select("p50", "p99").as[(Double, Double)].head()
    assert(exact._1 === 50.5, "percentile interpolates between 50 and 51")
    assert(math.abs(exact._2 - 99.01) < 1e-9)
    // the 100 TB path: bounded-memory sketch, value within rank error
    val approx = Analytics.quantiles(df, $"grp", $"v", Seq(0.5), exact = false)
      .select("p50").as[Double].head()
    assert(approx >= 49.0 && approx <= 52.0, s"approx p50 = $approx")
    // empty input: no groups, no rows, no error
    assert(Analytics.quantiles(df.filter($"v" < 0), $"grp", $"v", Seq(0.5)).count() === 0)
  }

  test("tagSearch: empty segment table and empty tag list") {
    val noTags = Seq.empty[(Long, String, Double)].toDF("image_id", "tag", "conf")
    assert(Search.tagSearch(noTags, Seq("x"), 0.5, 5).count() === 0)
    val segs = Seq((1L, "a", 0.9)).toDF("image_id", "tag", "conf")
    // empty tag list = no constraint to satisfy → no matches (the
    // reference requires at least one tag in tags mode)
    assert(Search.tagSearch(segs, Nil, 0.5, 5).count() === 0)
  }

  test("gram index: empty lake and empty probe both flow through") {
    val dir = tempDir("gram_edge")
    val docs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    GramIndex.write(docs, $"doc_id", $"text", s"$dir/idx", n = 8)
    val probe = Seq((1L, "one two three four five six seven eight nine"))
      .toDF("doc_id", "text")
    // empty lake: every probe window is novel, nothing throws
    val m = GramIndex.memorizationRateFromIndex(
      probe, $"doc_id", $"text", s"$dir/idx")
      .select("doc_id", "n_memorized").as[(Long, Long)].collect().toMap
    assert(m === Map(1L -> 0L))
    assert(GramIndex.contaminatedIdsFromIndex(probe, $"text", s"$dir/idx")
      .count() === 0)
    // empty probe against a real index: empty result, no error
    val dir2 = tempDir("gram_edge2")
    GramIndex.write(probe, $"doc_id", $"text", s"$dir2/idx", n = 8)
    assert(GramIndex.memorizationRateFromIndex(
      docs, $"doc_id", $"text", s"$dir2/idx").count() === 0)
    // empty-benchmark gate admits everything
    assert(GramIndex.decontamGateFromIndex(
      probe, $"doc_id", $"text", s"$dir/idx").count() === 1)
  }

  test("graph structure ops: empty node set, isolated nodes, minimal k flow through") {
    import spark.implicits._
    val none = Seq.empty[Long].toDF("id")
    val noEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    // empty graph: every relation is empty, nothing throws
    assert(GraphAnalytics.harmonicSketch(none, noEdges, k = 2).count() === 0)
    assert(GraphAnalytics.harmonic3(none, noEdges).count() === 0)
    assert(GraphAnalytics.blastRadiusOf(noEdges, none).count() === 0)
    // isolated nodes (no edges at all): the sketch register is the self
    // hash — exact path, all rings zero, matching the exact form
    val ids = Seq(1L, 2L, 3L).toDF("id")
    val sk = GraphAnalytics.harmonicSketch(ids, noEdges, k = 2)
      .as[(Long, Double, Double, Double, Double)].collect().toSet
    assert(sk === Set((1L, 0.0, 0.0, 0.0, 0.0), (2L, 0.0, 0.0, 0.0, 0.0),
      (3L, 0.0, 0.0, 0.0, 0.0)))
    // k at its floor (2) on a connected pair: hop-1 registers hold both
    // hashes (m = 2 = k saturates the register; the estimator runs and
    // stays deterministic) — nothing throws, differences stay >= 0
    val pair = Seq((1L, 2L)).toDF("src", "dst")
    val est = GraphAnalytics.harmonicSketch(Seq(1L, 2L).toDF("id"), pair, k = 2)
      .as[(Long, Double, Double, Double, Double)].collect()
    assert(est.length === 2)
    est.foreach { case (_, n1, n2, n3, _) =>
      assert(n1 >= 0.0 && n2 >= 0.0 && n3 >= 0.0) }
  }

  test("composite frame key decode is exact at the guard boundary") {
    // doc_id 9e9 with frame_idx 999999 is the largest composite the
    // frameDedup guard admits: 9e9·10⁶ + 999999 ≈ 9.000000001e15. A
    // float `/ 1000000` + truncating cast sits half-an-ulp (1.0 at this
    // magnitude) from the true quotient; the integer `div` spelling both
    // frameEmbed and frameDedup now use must round-trip it exactly.
    val df = Seq((9000000000L, 999999L), (9000000000L, 0L), (1L, 999999L))
      .toDF("doc_id", "frame_idx")
      .select((col("doc_id") * 1000000L + col("frame_idx")).as("k"),
        col("doc_id").as("exp_doc"), col("frame_idx").as("exp_frame"))
      .select(expr("k div 1000000").as("got_doc"),
        (col("k") % 1000000L).as("got_frame"),
        col("exp_doc"), col("exp_frame"))
    assert(df.filter(col("got_doc") =!= col("exp_doc") ||
      col("got_frame") =!= col("exp_frame")).count() === 0)
  }
}
