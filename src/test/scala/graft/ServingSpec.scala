package graft

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.operators.Retrieval

/** The JSON serving boundary: request parsing (reference form-field
  * names), response envelope, error payloads, and CLI flag mapping. */
class ServingSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  test("parseRequest: reference field names, defaults, both tags forms") {
    val full = Serving.parseRequest(
      """{"mode":"hybrid","top_k":7,"query_image_id":3,
         "whole_weight":0.7,"segment_weight":0.3,"max_segments":4,
         "min_conf":0.25,"tags":["a","b"]}""")
    assert(full === Retrieval.SearchRequest("hybrid", k = 7, queryImageId = 3L,
      tags = Seq("a", "b"), minConf = 0.25, wWhole = 0.7, wSeg = 0.3,
      maxSegments = 4))
    // the reference's comma-separated form-field tags (app.py tag_filter)
    assert(Serving.parseRequest("""{"mode":"tags","tags":"a, b ,c"}""").tags
      === Seq("a", "b", "c"))
    val defaults = Serving.parseRequest("""{"mode":"whole"}""")
    assert(defaults === Retrieval.SearchRequest("whole"))
  }

  test("handle: envelope mode/top_k/results, rows match Retrieval.run") {
    val out = Serving.handle(spark, d, """{"mode":"whole","top_k":4}""")
    val parsed = JsonMethods.parse(out)
    assert((parsed \ "mode") === JString("whole"))
    assert((parsed \ "top_k") === JInt(4))
    val results = (parsed \ "results").asInstanceOf[JArray].arr
    assert(results.size === 4)
    // rows carry the engine's column names, straight from Dataset.toJSON
    val ids = results.map(r => (r \ "image_id").asInstanceOf[JInt].num.toLong)
    val direct = Retrieval.run(spark, d, Retrieval.SearchRequest("whole", k = 4))
      .select("image_id").collect().map(_.getLong(0)).toList
    assert(ids === direct)
  }

  test("handle: centrality mode serves one doc's graph signals through the knobs") {
    val out = Serving.handle(spark, d,
      """{"mode":"centrality","query_image_id":42}""")
    val parsed = JsonMethods.parse(out)
    assert((parsed \ "mode") === JString("centrality"))
    val results = (parsed \ "results").asInstanceOf[JArray].arr
    assert(results.size === 1)
    assert((results.head \ "vec_id") === JInt(42))
    val direct = Retrieval.run(spark, d,
        Retrieval.SearchRequest("centrality", queryImageId = 42L))
      .toJSON.collect().toList
    assert(results.map(JsonMethods.compact(_)) ===
      direct.map(j => JsonMethods.compact(JsonMethods.parse(j))))
  }

  test("handle: tags mode via comma string; errors come back as JSON") {
    val out = Serving.handle(spark, d,
      """{"mode":"tags","tags":"lbl_2","top_k":3,"min_conf":0.0}""")
    val results = (JsonMethods.parse(out) \ "results").asInstanceOf[JArray].arr
    assert(results.nonEmpty && results.size <= 3)
    val err = Serving.handle(spark, d, """{"mode":"teleport"}""")
    assert((JsonMethods.parse(err) \ "error").isInstanceOf[JString])
    val bad = Serving.handle(spark, d, """["not","an","object"]""")
    assert((JsonMethods.parse(bad) \ "error").isInstanceOf[JString])
  }

  test("handleWithStatus: a negative top_k is a request error (400) in every mode") {
    for (mode <- ServingHttp.OrderedModes) {
      val (status, body) = Serving.handleWithStatus(spark, d, s"""{"mode":"$mode","top_k":-1}""")
      assert(status === 400, s"$mode: $body")
      assert(body.contains("top_k must be >= 0"), s"$mode: $body")
    }
  }

  test("handle: lexical mode via comma-string terms round-trips the envelope") {
    val out = Serving.handle(spark, d,
      """{"mode":"lexical","terms":"hash,merge","top_k":3}""")
    val parsed = JsonMethods.parse(out)
    assert((parsed \ "mode") === JString("lexical"))
    val results = (parsed \ "results").asInstanceOf[JArray].arr
    assert(results.size === 3)
    // missing terms → error payload, not an exception
    val err = Serving.handle(spark, d, """{"mode":"lexical"}""")
    assert((JsonMethods.parse(err) \ "error").isInstanceOf[JString])
  }

  test("health: healthy with vector count on real data, unhealthy JSON on bad dir") {
    val ok = JsonMethods.parse(Serving.health(spark, d))
    assert((ok \ "status") === JString("healthy"))
    assert((ok \ "vectors").asInstanceOf[JInt].num.toLong > 0L)
    val bad = JsonMethods.parse(Serving.health(spark, "/nonexistent/dir"))
    assert((bad \ "status") === JString("unhealthy"))
    assert((bad \ "error").isInstanceOf[JString])
  }

  test("cacheCorpus: later requests plan against the in-memory corpus, not parquet") {
    // serving-side corpus reuse: one persist serves every request of a
    // concurrent-user deployment; without it each handle() re-scans parquet
    graft.Tables.cacheCorpus(spark, d) // embeddings — the serving-critical table
    try {
      // segment mode derives everything from the embeddings table, so
      // its whole plan must be the in-memory corpus (whole mode plans
      // against the r19 memoized imageVecs checkpoint instead —
      // asserted below; mmr would not do — it collects its pool and
      // plans a LocalRelation)
      val df = Retrieval.run(spark, d, Retrieval.SearchRequest("segment", k = 3))
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("InMemoryRelation"),
        s"cached corpus must plan as an in-memory scan:\n$optimized")
      // no scan leaf re-reads parquet: every leaf of the request's plan
      // is the in-memory table (the FileScan inside InMemoryRelation's
      // stored child is the one-time materialization, not a per-request
      // read). Logical leaves, not executedPlan — AQE wraps the physical
      // tree and hides its leaves until execution.
      val leaves = df.queryExecution.optimizedPlan.collectLeaves()
      assert(leaves.nonEmpty && leaves.forall(
        _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation]),
        s"every scan leaf must be the cached corpus:\n${leaves.mkString("\n")}")
      // whole mode serves from the MATERIALIZED whole-image table (r20 —
      // a scratch-parquet derivation, graft.plans.Scratch; r19 used a
      // localCheckpoint that the bench's per-rep unpersist killed): the
      // contract is that no leaf re-reads the CORPUS parquet per request
      // — the at-rest derivation read is the index-probe shape every
      // other mode has; a `LocalRelation` (the rows served from the
      // driver-held point image) reads nothing at all.
      val wholeLeaves = Retrieval.run(spark, d,
          Retrieval.SearchRequest("whole", k = 3))
        .queryExecution.optimizedPlan.collectLeaves()
      assert(wholeLeaves.nonEmpty && wholeLeaves.forall {
        case _: org.apache.spark.sql.execution.columnar.InMemoryRelation => true
        case _: org.apache.spark.sql.execution.LogicalRDD => true
        case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.forall(p => !p.toString.contains(d))
            case _ => false
          }
        case _ => false
      }, s"whole-mode leaves must be the cached corpus or a materialized " +
        s"derivation, never the corpus parquet:\n${wholeLeaves.mkString("\n")}")
      // the serving boundary returns identical results through the cache
      val r1 = Serving.handle(spark, d, """{"mode":"whole","top_k":3}""")
      val r2 = Serving.handle(spark, d, """{"mode":"whole","top_k":3}""")
      assert(r1 === r2 && r1.contains("\"results\""))
    } finally graft.Tables.uncacheCorpus(d)
    // cache dropped: plans read parquet again
    val after = Retrieval.run(spark, d, Retrieval.SearchRequest("segment", k = 3))
      .queryExecution.optimizedPlan
    assert(after.collectLeaves().nonEmpty && after.collectLeaves().forall(
      !_.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation]))
  }

  test("concurrent serving: parallel handle() calls share ONE cached corpus and all answer correctly") {
    // SRS §5 targets 1,000 concurrent users; the engine-side contract
    // behind that is (a) SparkSession.handle is thread-safe, (b) the
    // corpus cache admits exactly one persisted copy no matter how many
    // requests race the cold start, (c) concurrent responses are
    // byte-identical to sequential ones. 16 threads here exercise the
    // races; beyond that concurrency is the wrapper's thread pool.
    val d = "/root/testdata/sf0.001"
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // ids, not a count: in a shared session the ContextCleaner
      // asynchronously unpersists earlier suites' localCheckpoint RDDs,
      // so a size delta flakes — but cleanup only ever REMOVES ids, so
      // "exactly one NEW id appeared" is race-free
      val before = spark.sparkContext.getPersistentRDDs.keySet
      // cold cache hammered from many threads: computeIfAbsent must
      // admit exactly one persisted corpus, not one per request
      Await.result(Future.sequence((1 to 16).map(_ => Future {
        graft.Tables.cacheCorpus(spark, d)
      })), 120.seconds)
      val reqs = (0 until 16).map { i =>
        val mode = Seq("whole", "hybrid")(i % 2)
        s"""{"mode":"$mode","top_k":5,"query_image_id":${i % 3}}"""
      }
      val sequential = reqs.map(r => Serving.handle(spark, d, r))
      sequential.foreach(r => assert(!r.contains("\"error\""), r))
      val concurrent = Await.result(
        Future.sequence(reqs.map(r => Future { Serving.handle(spark, d, r) })),
        300.seconds)
      assert(concurrent === sequential,
        "concurrent responses must be byte-identical to sequential ones")
      // persist() is lazy — the cached corpus materializes during the
      // requests above; exactly ONE persisted RDD may have appeared no
      // matter how many requests raced the cold start (computeIfAbsent
      // admits one value; a duplicate persist would show up here)
      val newIds = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(newIds.size === 1,
        s"exactly one cached corpus load under request concurrency, got new RDD ids $newIds")
    } finally {
      graft.Tables.uncacheCorpus(d)
      pool.shutdown()
    }
  }

  test("SearchCli.requestJson: flags map onto request fields; --json wins") {
    val json = SearchCli.requestJson(Array(
      "--data", "/x", "--mode", "hybrid", "--top-k", "5",
      "--whole-weight", "0.7", "--segment-weight", "0.3"))
    assert(Serving.parseRequest(json) === Retrieval.SearchRequest(
      "hybrid", k = 5, wWhole = 0.7, wSeg = 0.3))
    val raw = """{"mode":"tags","tags":"x"}"""
    assert(SearchCli.requestJson(Array("--json", raw, "--mode", "ignored")) === raw)
  }
}
