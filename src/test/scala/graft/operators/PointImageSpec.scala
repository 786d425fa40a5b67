package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.operators.Retrieval.SearchRequest

/** The point band served from the driver ([[Search.PointImage]]): the
  * `whole` and `tags` rows of [[Retrieval.run]] must be the rows of
  * [[Search.knnBrute]] and [[Search.tagSearch]] on the distributed plan,
  * compared as `toJSON` strings (what the server writes), on the test
  * data over a swept key set and on a small corpus built for the edge
  * cases: a zero-norm vector, exact score ties, NaN and null cells. */
class PointImageSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.01"

  private def json(df: DataFrame): Seq[String] = df.toJSON.collect().toSeq

  private def emb: DataFrame = graft.Tables.embeddings(spark, d)

  private def knnPlan(vecs: DataFrame, qid: Long, k: Int): DataFrame =
    Search.knnBrute(vecs.filter(col("image_id") =!= qid), col("wv"),
        vecs.filter(col("image_id") === qid).select(col("wv").as("qv")), k,
        tie = col("image_id"), offset = 1.0)
      .select(col("image_id"), col("score"))

  test("sf0.01: whole rows equal knnBrute's over a swept key set") {
    val vecs = Retrieval.imageVecs(spark, d)
    val n = vecs.count()
    for (qid <- Seq(0L, 1L, 31L, n - 1, n, -1L); k <- Seq(1, 10, n.toInt + 5)) {
      val got = Retrieval.run(spark, d, SearchRequest("whole", k = k, queryImageId = qid))
      assert(got.queryExecution.analyzed.isInstanceOf[LocalRelation])
      val want = knnPlan(vecs, qid, k)
      assert(got.schema === want.schema)
      val rows = json(got)
      assert(rows === json(want), s"query image $qid, k $k")
      val expected = if (qid < 0 || qid >= n) 0L else math.min(k.toLong, n - 1)
      assert(rows.size.toLong === expected, s"query image $qid, k $k")
    }
  }

  test("sf0.01: tags rows equal tagSearch's over tag sets, confidence floors and k") {
    val segs = Retrieval.segs(spark, d)
    val present = segs.filter(col("tag") === "lbl_3").orderBy("vec_id")
      .select("conf").head().getDouble(0) // an exact conf of the data
    val tagSets = Seq(Seq("lbl_3"), Seq("lbl_3", "lbl_7"), Seq("lbl_0", "lbl_9"),
      Seq("no_such_tag"), Seq("lbl_1", "no_such_tag"), Seq("lbl_2", "lbl_2"))
    for (tags <- tagSets; minConf <- Seq(0.0, present, 1.0); k <- Seq(1, 10, 100)) {
      val got = Retrieval.run(spark, d,
        SearchRequest("tags", k = k, tags = tags, minConf = minConf))
      assert(got.queryExecution.analyzed.isInstanceOf[LocalRelation])
      val want = Search.tagSearch(segs, tags, minConf, k)
      assert(got.schema === want.schema)
      assert(json(got) === json(want), s"tags $tags, minConf $minConf, k $k")
    }
    val hits = json(Retrieval.run(spark, d,
      SearchRequest("tags", k = 100, tags = Seq("lbl_3"), minConf = present)))
    assert(hits.nonEmpty && hits.size < Retrieval.imageVecs(spark, d).count(),
      "the sweep must cover a partial match")
  }

  private val vecSchema = StructType(Seq(
    StructField("image_id", LongType), StructField("wv", ArrayType(DoubleType))))
  private val segSchema = StructType(Seq(StructField("image_id", LongType),
    StructField("tag", StringType), StructField("conf", DoubleType)))

  private def frame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  test("a built corpus: null and zero-norm vectors sort last, exact ties by id, NaN and null cells") {
    val vecs = frame(vecSchema, Seq(
      Row(1L, Seq(1.0, 0.0, 0.0)),
      Row(2L, Seq(0.0, 0.0, 0.0)), // zero norm: null score
      Row(3L, Seq(2.0, 4.0, 0.0)),
      Row(4L, Seq(1.0, 2.0, 0.0)), // the direction of 3: the same bits
      Row(5L, Seq(1.0, 2.0, 0.0)),
      Row(6L, null), // no vector: null score
      Row(7L, Seq(0.5, 0.25, 1.0)),
      Row(8L, Seq(0.1, 0.2)), // length mismatch: null score
      Row(null, Seq(1.0, 1.0, 1.0)), // never a query, never a result
      Row(9L, Seq(-1.0, 0.0, 0.0))))
    val segs = frame(segSchema, Seq(
      Row(1L, "a", 0.5), Row(1L, "b", 0.5), Row(2L, "a", 0.5),
      Row(3L, "a", 0.25), Row(3L, "b", 0.75), Row(4L, "b", 0.75),
      Row(5L, "a", Double.NaN), Row(6L, "a", null), Row(7L, null, 0.9),
      Row(8L, "c", 0.1), Row(9L, "a", 0.0), Row(9L, "a", 0.5)))
    val img = Search.pointImage(vecs, segs, emb).get
    for (qid <- Seq(1L, 2L, 3L, 6L, 8L, 9L, 42L); k <- Seq(0, 1, 3, 20)) {
      val got = Search.knnServeById(spark, img, qid, k, offset = 1.0)
      assert(json(got) === json(knnPlan(vecs, qid, k)), s"query image $qid, k $k")
    }
    // ties and nulls are present, so the order is pinned, not lucky
    val all = json(Search.knnServeById(spark, img, 1L, 20, offset = 1.0))
    assert(all.takeRight(3) === Seq("""{"image_id":2}""", """{"image_id":6}""", """{"image_id":8}"""))
    for (tags <- Seq(Seq("a"), Seq("a", "b"), Seq("b", "c", "z"), Nil);
         minConf <- Seq(0.0, 0.5, 0.75, 1.0, Double.NaN); k <- Seq(1, 3, 20)) {
      val got = Search.tagSearchServe(spark, img, tags, minConf, k)
      assert(json(got) === json(Search.tagSearch(segs, tags, minConf, k)),
        s"tags $tags, minConf $minConf, k $k")
    }
  }

  test("the image refuses what it cannot hold: over the hot tier's budget, a repeated id, a segment without an id") {
    val vecs = Retrieval.imageVecs(spark, d)
    val segs = Retrieval.segs(spark, d)
    assert(Search.pointImage(vecs, segs, emb).nonEmpty)
    sys.props("graft.graph.hot.maxBytes") = "1" // any real table is over
    try assert(Search.pointImage(vecs, segs, emb).isEmpty)
    finally sys.props -= "graft.graph.hot.maxBytes"
    val twice = frame(vecSchema, Seq(Row(1L, Seq(1.0)), Row(1L, Seq(2.0))))
    assert(Search.pointImage(twice, segs, emb).isEmpty)
    val noId = frame(segSchema, Seq(Row(null, "a", 0.5)))
    assert(Search.pointImage(vecs, noId, emb).isEmpty)
  }

  test("embeddings the image cannot hold refuse only rrf's dense pool") {
    val vecs = Retrieval.imageVecs(spark, d)
    val segs = Retrieval.segs(spark, d)
    val full = Search.pointImage(vecs, segs, emb).get
    assert(Search.vecPoolServe(full, 0L).exists(_.nonEmpty))
    def same(img: Search.PointImage): Unit = {
      assert(json(Search.knnServeById(spark, img, 3L, 10, offset = 1.0)) ===
        json(Search.knnServeById(spark, full, 3L, 10, offset = 1.0)))
      assert(json(Search.tagSearchServe(spark, img, Seq("lbl_3"), 0.0, 10)) ===
        json(Search.tagSearchServe(spark, full, Seq("lbl_3"), 0.0, 10)))
    }
    val nullId = emb.limit(1).withColumn("vec_id", lit(null).cast("long"))
    for (bad <- Seq(emb.unionByName(emb), emb.unionByName(nullId))) {
      val img = Search.pointImage(vecs, segs, bad).get
      assert(Search.vecPoolServe(img, 0L).isEmpty)
      same(img)
    }
    // in-memory tables have no on-disk bytes; the embeddings' file is
    // over a 1-byte budget
    val small = frame(vecSchema, Seq(Row(1L, Seq(1.0, 0.0)), Row(2L, Seq(0.0, 1.0))))
    val smallSegs = frame(segSchema, Seq(Row(1L, "a", 0.5)))
    assert(Search.vecPoolServe(Search.pointImage(small, smallSegs, emb).get, 0L).nonEmpty)
    sys.props("graft.graph.hot.maxBytes") = "1"
    val budgeted = try Search.pointImage(small, smallSegs, emb)
      finally sys.props -= "graft.graph.hot.maxBytes"
    assert(budgeted.nonEmpty && Search.vecPoolServe(budgeted.get, 0L).isEmpty)
  }
}
