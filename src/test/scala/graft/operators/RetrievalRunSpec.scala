package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Retrieval.SearchRequest

/** The parameterized dispatch ([[Retrieval.run]]) — all four reference
  * modes through one entry with call-time k / weights / tags / query
  * image, against real testdata. */
class RetrievalRunSpec extends SparkSpec {
  import spark.implicits._

  private val d = "/root/testdata/sf0.001"

  test("whole mode: k is honored, query image excluded, cos+1 calibration") {
    val r = Retrieval.run(spark, d, SearchRequest("whole", k = 3))
      .as[(Long, Double)].collect()
    assert(r.length === 3)
    assert(!r.map(_._1).contains(0L), "query image must not match itself")
    assert(r.forall(p => p._2 > 0.0 && p._2 <= 2.0))
    assert(r.sortBy(-_._2).toSeq === r.toSeq)
  }

  test("segment mode: parameterized query image changes the result") {
    val from0 = Retrieval.run(spark, d, SearchRequest("segment", k = 5))
      .select("image_id").as[Long].collect().toSeq
    val from3 = Retrieval.run(spark, d,
        SearchRequest("segment", k = 5, queryImageId = 3L))
      .select("image_id").as[Long].collect().toSeq
    assert(from0.length === 5 && from3.length === 5)
    assert(!from3.contains(3L), "query image excluded for its own query")
    assert(from0 !== from3, "different query image → different ranking")
  }

  test("hybrid mode: weights are live — extreme weights reproduce the pure modes") {
    val wholeOnly = Retrieval.run(spark, d,
        SearchRequest("hybrid", k = 5, wWhole = 1.0, wSeg = 0.0))
      .select("image_id", "hybrid_score").as[(Long, Double)].collect()
    val whole = Retrieval.run(spark, d, SearchRequest("whole", k = 5))
      .as[(Long, Double)].collect()
    assert(wholeOnly.map(_._1).toSeq === whole.map(_._1).toSeq,
      "wSeg=0 ranking = whole-image ranking")
    wholeOnly.zip(whole).foreach { case ((_, h), (_, w)) =>
      assert(math.abs(h - w) < 1e-9, "wWhole=1 score = whole score")
    }
    val segHeavy = Retrieval.run(spark, d,
        SearchRequest("hybrid", k = 5, wWhole = 0.0, wSeg = 1.0))
      .select("image_id").as[Long].collect().toSeq
    assert(segHeavy.length === 5)
  }

  test("max_segments caps query segments, largest areas first") {
    // maxSegments=1 must equal segmentScores driven by ONLY the
    // top-area query segment — the reference's masks[:max_segments]
    // after the area-desc sort (search_with_segments.py:72,82).
    val capped = Retrieval.run(spark, d,
        SearchRequest("segment", k = 5, maxSegments = 1))
      .select("image_id").as[Long].collect().toSeq
    val topSeg = Retrieval.segs(spark, d).filter(col("image_id") === 0)
      .withColumn("area", (col("vec_id") * 131 % 997 + 100).cast("long"))
      .orderBy(desc("area"), asc("seg_id")).limit(1)
      .select(col("seg_id").as("qseg"), col("embedding").as("qv"))
    val manual = Search.segmentScores(
        Retrieval.segs(spark, d).filter(col("image_id") =!= 0)
          .select("image_id", "embedding"), topSeg)
      .orderBy(desc("avg_sim"), asc("image_id")).limit(5)
      .select("image_id").as[Long].collect().toSeq
    assert(capped === manual)
    // default (10 ≥ 8 segs/image) keeps all segments → named-query behavior
    val all = Retrieval.run(spark, d, SearchRequest("segment", k = 5))
      .select("image_id").as[Long].collect().toSeq
    assert(all.length === 5)
  }

  test("tags mode: tag set and confidence floor are live") {
    val loose = Retrieval.run(spark, d,
      SearchRequest("tags", k = 50, tags = Seq("lbl_3", "lbl_7"), minConf = 0.1))
    val strict = Retrieval.run(spark, d,
      SearchRequest("tags", k = 50, tags = Seq("lbl_3", "lbl_7"), minConf = 0.9))
    assert(strict.count() < loose.count(), "raising minConf shrinks the result")
    val other = Retrieval.run(spark, d,
      SearchRequest("tags", k = 50, tags = Seq("lbl_1"), minConf = 0.1))
    val looseIds = loose.select("image_id").as[Long].collect().toSet
    val otherIds = other.select("image_id").as[Long].collect().toSet
    assert(looseIds !== otherIds, "different tag set → different matches")
  }

  test("lexical mode: request terms are live, equals the direct BM25 call") {
    val got = Retrieval.run(spark, d,
        SearchRequest("lexical", k = 5, terms = Seq("hash", "merge")))
      .as[(Long, Double)].collect().toSeq
    val want = Lexical.bm25Scores(spark, d, Seq("hash", "merge"))
      .orderBy(org.apache.spark.sql.functions.desc("score"),
        org.apache.spark.sql.functions.asc("doc_id")).limit(5)
      .as[(Long, Double)].collect().toSeq
    assert(got === want)
    assert(got.size === 5)
    // different terms → different ranking (the knob is live)
    val other = Retrieval.run(spark, d,
        SearchRequest("lexical", k = 5, terms = Seq("vector")))
      .as[(Long, Double)].collect().toSeq
    assert(other !== got)
    intercept[IllegalArgumentException] {
      Retrieval.run(spark, d, SearchRequest("lexical", k = 5))
    }
  }

  test("rrf mode: k honored, scores reconstruct from fused ranks") {
    val r = Retrieval.run(spark, d,
        SearchRequest("rrf", k = 4, terms = Seq("vector", "stream", "filter")))
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(r.size === 4)
    // matches the named-query binding at the default terms/k prefix
    val named = Lexical.rrfHybrid(spark, d)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(r === named.take(4))
  }

  test("mmr mode: k honored, first pick is the query vector itself") {
    val r = Retrieval.run(spark, d, SearchRequest("mmr", k = 5, queryImageId = 3L))
      .as[(Long, Long, Double)].collect().toSeq
    assert(r.size === 5)
    assert(r.head._2 === 3L, "self-retrieval leads (cosine 1.0)")
    assert(r.map(_._1) === (1L to 5L), "ranks are 1..k")
  }

  test("maxsim mode: k honored, query image excluded, equals the named-query scoring") {
    val r = Retrieval.run(spark, d, SearchRequest("maxsim", k = 5))
      .as[(Long, Double)].collect().toSeq
    assert(r.length === 5)
    assert(!r.map(_._1).contains(0L), "query image must not match itself")
    assert(r.sortBy(-_._2).toSeq === r, "score-descending order")
    // same scoring as the named query (which keeps the self-match and is
    // rounded): mode result ≡ knn_maxsim minus image 0, re-topped at k
    val named = Retrieval.knnMaxsim(spark, d)
      .as[(Long, Double)].collect().filter(_._1 != 0L).take(5)
      .map(_._1).toSeq
    assert(r.map(_._1) === named)
  }

  test("mmr mode: request-controlled k beyond the driver-pool ceiling fails fast") {
    val e = intercept[IllegalArgumentException] {
      Retrieval.run(spark, d, SearchRequest("mmr", k = 100000, queryImageId = 3L))
    }
    assert(e.getMessage.contains("mmr mode needs"))
  }

  test("unknown mode fails fast") {
    intercept[IllegalArgumentException] {
      Retrieval.run(spark, d, SearchRequest("vibes"))
    }
  }

  test("fuzzy mode: terms live, equals the direct fuzzy call; empty terms fail fast") {
    val got = Retrieval.run(spark, d,
        SearchRequest("fuzzy", k = 5, terms = Seq("vektor", "streem")))
      .as[(Long, Double)].collect().toSeq
    val want = Lexical.bm25FuzzyScores(spark, d, Seq("vektor", "streem"))
      .orderBy(desc("score"), asc("doc_id")).limit(5)
      .as[(Long, Double)].collect().toSeq
    assert(got === want && got.size === 5)
    intercept[IllegalArgumentException] {
      Retrieval.run(spark, d, SearchRequest("fuzzy", k = 5))
    }
  }

  test("mlt mode: query_image_id selects the source doc; source never returned") {
    val got = Retrieval.run(spark, d,
        SearchRequest("mlt", k = 5, queryImageId = 42L))
      .as[(Long, Double)].collect().toSeq
    assert(got.size === 5 && !got.map(_._1).contains(42L))
    val other = Retrieval.run(spark, d,
        SearchRequest("mlt", k = 5, queryImageId = 7L))
      .as[(Long, Double)].collect().toSeq
    assert(other !== got, "the source-doc knob is live")
  }

  test("fuzzy mode: the fuzziness knob is live — AUTO reaches an ED2 typo the default budget cannot") {
    // "vektorr" needs a substitution AND a deletion to reach "vector":
    // unreachable at the default fuzziness "1", served under "auto"
    val ed1 = Retrieval.run(spark, d,
      SearchRequest("fuzzy", terms = Seq("vektorr"))).collect()
    assert(ed1.isEmpty, "ED1 budget must not reach vector from vektorr")
    val auto = Retrieval.run(spark, d,
      SearchRequest("fuzzy", terms = Seq("vektorr"), fuzziness = "auto"))
      .collect()
    assert(auto.nonEmpty, "AUTO budget (2 edits at >=6 chars) must serve results")
    // unknown budget is an engine-rejected request (the 400 path)
    intercept[IllegalArgumentException] {
      Retrieval.run(spark, d,
        SearchRequest("fuzzy", terms = Seq("vektorr"), fuzziness = "3"))
    }
  }

  test("centrality mode: point-read equals the oracle-checked refined ranking; partition-pruned; knob live") {
    val got = Retrieval.run(spark, d,
        SearchRequest("centrality", queryImageId = 42L))
      .select("vec_id", "pr", "community", "comm_size")
      .as[(Long, Double, Long, Long)].collect().toSeq
    assert(got.size === 1 && got.head._1 === 42L)
    // pr must equal graph_pagerank_refined's row — same stored edges,
    // same published loop, same round(9)
    val wantPr = GraphAnalytics.queries("graph_pagerank_refined")(spark, d)
      .filter(col("vec_id") === 42L).as[(Long, Double)].head()._2
    assert(got.head._2 === wantPr)
    // community/size must equal the layout-served partition at the same
    // rounds, and the size must count its members
    val cm = GraphAnalytics.communitySizes(GraphAnalytics.layout(spark,
        spark.read.parquet(s"$d/embeddings.parquet").select(col("vec_id").as("id")),
        s"${Retrieval.graphIdxDir(spark, d)}/idx"))
      .as[(Long, Long, Long)].collect()
    val want = cm.find(_._1 == 42L).get
    assert((got.head._3, got.head._4) === ((want._2, want._3)))
    // the r19-widened cohesion/reach columns serve the same rows their
    // oracle-checked `_refined` named queries derive — one lookup, every
    // per-doc graph dial
    val wide = Retrieval.run(spark, d,
        SearchRequest("centrality", queryImageId = 42L))
      .select("vec_id", "in_core", "core_deg", "deg", "n_triangles",
        "local_coeff", "harmonic_est")
      .as[(Long, Boolean, Option[Long], Long, Long, Option[Double], Double)]
      .head()
    val wantCore = GraphAnalytics.queries("graph_kcore_refined")(spark, d)
      .filter(col("vec_id") === 42L)
      .as[(Long, Boolean, Option[Long])].head()
    assert((wide._2, wide._3) === ((wantCore._2, wantCore._3)))
    val wantLcc = GraphAnalytics.queries("graph_clustering_local_refined")(spark, d)
      .filter(col("vec_id") === 42L)
      .as[(Long, Long, Long, Option[Double])].collect().headOption
    wantLcc match {
      case Some((_, deg, tri, lcc)) =>
        assert((wide._4, wide._5, wide._6) === ((deg, tri, lcc)))
      case None => // edge-less node: honest zeros, undefined coefficient
        assert((wide._4, wide._5, wide._6) === ((0L, 0L, None)))
    }
    val wantReach = GraphAnalytics.queries("graph_harmonic_sketch_refined")(spark, d)
      .filter(col("vec_id") === 42L)
      .select("harmonic_est").as[Double].head()
    assert(wide._7 === wantReach)
    // the read is a point lookup: only the one bucket's partition scans
    val scan = Retrieval.run(spark, d,
      SearchRequest("centrality", queryImageId = 42L))
    val pf = scan.queryExecution.executedPlan.toString
    assert(pf.contains("PartitionFilters") && pf.contains("bkt"),
      "centrality read should partition-prune on the bucket:\n" + pf)
    // the id knob is live
    val other = Retrieval.run(spark, d,
        SearchRequest("centrality", queryImageId = 7L))
      .select("vec_id", "pr", "community", "comm_size")
      .as[(Long, Double, Long, Long)].collect().toSeq
    assert(other.head._1 === 7L)
    assert(other !== got)
  }

  test("centrality serving honors takedowns: recalled id reads empty, survivor rank is the del oracle's") {
    val idx = s"${Retrieval.graphDelIdxDir(spark, d)}/idx"
    val recalled = Retrieval.GraphDeletedIds.head
    // the recall is served immediately — probe-time anti-join, no
    // refresh needed for the id to disappear
    assert(Retrieval.graphStatsReadFor(spark, d, idx, recalled).isEmpty,
      s"recalled id $recalled must not be served centrality")
    // a survivor's refreshed rank is exactly graph_pagerank_del's
    // oracle-checked row (same live nodes/edges, same loop, same round)
    val survivor = 42L
    assert(!Retrieval.GraphDeletedIds.contains(survivor))
    val got = Retrieval.graphStatsReadFor(spark, d, idx, survivor)
      .select("vec_id", "pr", "community", "comm_size")
      .as[(Long, Double, Long, Long)].head()
    val wantPr = GraphAnalytics.queries("graph_pagerank_del")(spark, d)
      .filter(col("vec_id") === survivor).as[(Long, Double)].head()._2
    assert(got._2 === wantPr)
    // the widened reach column regrades over the SURVIVING graph too —
    // exactly graph_harmonic_sketch_del's oracle-checked survivor row
    val gotReach = Retrieval.graphStatsReadFor(spark, d, idx, survivor)
      .select("harmonic_est").as[Double].head()
    val wantReach = GraphAnalytics.queries("graph_harmonic_sketch_del")(spark, d)
      .filter(col("vec_id") === survivor)
      .select("harmonic_est").as[Double].head()
    assert(gotReach === wantReach)
    // and its community row matches the tombstoned layout's partition
    val want = GraphAnalytics.communitySizes(GraphAnalytics.layout(spark,
        spark.read.parquet(s"$d/embeddings.parquet")
          .select(col("vec_id").as("id")),
        idx))
      .as[(Long, Long, Long)].collect().find(_._1 == survivor).get
    assert((got._3, got._4) === ((want._2, want._3)))
  }

  test("centrality serving composes with incremental maintenance: an appended id is served its refreshed rank") {
    // the same store builder over the APPEND layout — the add half of
    // the add-vs-train split: an inserted doc gets centrality through
    // its insert-time links, no NN-Descent rebuild, and the rank is
    // graph_pagerank_append's oracle-checked row
    val idx = s"${Retrieval.graphAppendDir(spark, d)}/idx"
    val inserted = Retrieval.GraphAppendIds.head
    val got = Retrieval.graphStatsReadFor(spark, d, idx, inserted)
      .select("vec_id", "pr", "community", "comm_size")
      .as[(Long, Double, Long, Long)].head()
    assert(got._1 === inserted)
    val wantPr = GraphAnalytics.queries("graph_pagerank_append")(spark, d)
      .filter(col("vec_id") === inserted).as[(Long, Double)].head()._2
    assert(got._2 === wantPr)
  }

  test("graph mode: serves from the at-rest index, equals the named query for the default query vector") {
    val got = Retrieval.run(spark, d,
        SearchRequest("graph", k = 10, queryImageId = 0L))
      .withColumn("score", round(col("score"), 6))
      .as[(Long, Double)].collect().toSeq
    val want = Retrieval.knnGraphIdx(spark, d)
      .as[(Long, Double)].collect().toSeq
    assert(got === want)
    // a different query vector re-routes the walk
    val other = Retrieval.run(spark, d,
        SearchRequest("graph", k = 10, queryImageId = 250L))
      .as[(Long, Double)].collect().toSeq
    assert(other.map(_._1) !== got.map(_._1), "the query-vector knob is live")
  }
}
