package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** The hot-tier graph serve path ([[Search.graphSearchServeById]]) must
  * be ROW-FOR-ROW the distributed beam walk ([[Search.graphSearchIndexed]])
  * — same entry ring, same tiebreaks, same cosine bit pattern, same
  * tombstone semantics — because serving latency must never buy a
  * different answer. */
class GraphServeSpec extends SparkSpec {
  import spark.implicits._

  private val d = "/root/testdata/sf0.001"

  private def distributed(idx: String, qid: Long, k: Int): Seq[(Long, Double)] =
    Search.graphSearchIndexed(spark, idx,
        Tables.embeddings(spark, d).filter(col("vec_id") === qid)
          .select(col("embedding").as("qv")),
        k = k, beam = 32, hops = 3, buckets = 32)
      .as[(Long, Double)].collect().toSeq

  private def served(idx: String, qid: Long, k: Int): Seq[(Long, Double)] =
    Search.graphSearchServeById(spark, idx, qid, k = k, beam = 32, hops = 3,
        buckets = 32)
      .as[(Long, Double)].collect().toSeq

  test("hot-tier walk ≡ distributed walk on the clean layout (several query ids)") {
    val idx = s"${Retrieval.graphIdxDir(spark, d)}/idx"
    Seq(0L, 7L, 42L, 123L).foreach { qid =>
      assert(served(idx, qid, 10) === distributed(idx, qid, 10),
        s"hot-tier/distributed divergence for query id $qid")
    }
  }

  test("hot-tier walk ≡ distributed walk on the TOMBSTONED layout (path rerouting included)") {
    val idx = s"${Retrieval.graphDelIdxDir(spark, d)}/idx"
    Seq(0L, 42L).foreach { qid =>
      val got = served(idx, qid, 10)
      assert(got === distributed(idx, qid, 10))
      assert(!got.map(_._1).exists(Retrieval.GraphDeletedIds.contains),
        "a recalled id must never be served")
    }
  }

  test("unknown query id returns the empty relation, like the distributed empty query frame") {
    val idx = s"${Retrieval.graphIdxDir(spark, d)}/idx"
    assert(served(idx, -1L, 10).isEmpty)
  }

  test("an id in the corpus but not in the layout walks with its embeddings vector (fallback)") {
    // a PARTIAL layout — the per-shard shape where the corpus outgrows
    // one shard's index: ids < 50 indexed, the rest only in embeddings
    val tmp = tempDir("graft_serve_fb")
    val sub = Tables.embeddings(spark, d).filter(col("vec_id") < 50)
      .select(col("vec_id"), col("embedding"))
    Search.writeGraphIndex(sub, col("vec_id"), col("embedding"),
      Search.hashRingEdges(sub, col("vec_id"), r = 2), s"$tmp/idx",
      entriesN = 8, buckets = 32)
    val idx = s"$tmp/idx"
    val fb: Long => Option[Array[Double]] = qid =>
      Tables.embeddings(spark, d).filter(col("vec_id") === qid)
        .select("embedding").collect().headOption.map(r => Search.widen(r.get(0)))
    // id 60 exists in embeddings but not in the layout: the served walk
    // must execute with the embeddings vector and equal the distributed
    // spelling, not silently answer empty (ADVICE r19)
    val got = Search.graphSearchServeById(spark, idx, 60L, k = 5,
        fallbackVec = fb)
      .as[(Long, Double)].collect().toSeq
    assert(got.nonEmpty, "fallback query must execute the walk")
    assert(got === distributed(idx, 60L, 5))
    // an id known to NEITHER still answers the empty relation
    assert(Search.graphSearchServeById(spark, idx, -1L, k = 5,
      fallbackVec = fb).count() === 0L)
  }

  test("a corpus-sized layout is refused loudly, pointing at the distributed spelling") {
    val clean = s"${Retrieval.graphIdxDir(spark, d)}/idx"
    val tmp = tempDir("graft_serve_big")
    def cp(src: java.io.File, dst: java.io.File): Unit =
      if (src.isDirectory) {
        dst.mkdirs(); src.listFiles().foreach(f => cp(f, new java.io.File(dst, f.getName)))
      } else java.nio.file.Files.copy(src.toPath, dst.toPath)
    cp(new java.io.File(clean), new java.io.File(s"$tmp/idx"))
    sys.props("graft.graph.hot.maxBytes") = "1" // any real layout is over
    try {
      val e = intercept[IllegalArgumentException] {
        served(s"$tmp/idx", 0L, 10)
      }
      assert(e.getMessage.contains("graphSearchIndexed"),
        "the refusal must name the distributed alternative")
      assert(e.getMessage.contains("graft.graph.hot.maxBytes"),
        "the refusal must name the override knob")
    } finally sys.props -= "graft.graph.hot.maxBytes"
    // with the default budget restored the same layout serves fine
    assert(served(s"$tmp/idx", 0L, 10) === distributed(s"$tmp/idx", 0L, 10))
  }

  test("a mutation racing the image load is served by the NEXT request (pre-load stamp)") {
    // land a REAL takedown inside the race window the stamp protocol
    // argues about: after the stamp read, before the image load
    val clean = s"${Retrieval.graphIdxDir(spark, d)}/idx"
    val tmp = tempDir("graft_serve_race")
    def cp(src: java.io.File, dst: java.io.File): Unit =
      if (src.isDirectory) {
        dst.mkdirs(); src.listFiles().foreach(f => cp(f, new java.io.File(dst, f.getName)))
      } else java.nio.file.Files.copy(src.toPath, dst.toPath)
    cp(new java.io.File(clean), new java.io.File(s"$tmp/idx"))
    val idx = s"$tmp/idx"
    val victim = served(idx, 0L, 1).head._1 // caches the clean image @ v0
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    Search.hotLoadTestHook = () =>
      if (fired.compareAndSet(false, true))
        Search.deleteFromGraphIndex(Seq(victim).toDF("id"), col("id"), idx)
    try {
      // request 2: stamp read sees v0, THEN the hook's takedown commits
      // v1 — this request is the allowed one-request race and serves the
      // stale v0 image (assert it, proving the mutation really landed
      // inside the window and not before the stamp read)
      val mid = served(idx, 0L, 10)
      assert(mid.map(_._1).contains(victim),
        "the racing request itself serves the pre-mutation image (the allowed race)")
      // request 3: stamp read sees v1 ≠ cached v0 → reload → the
      // mutation is served; a post-load stamp would have absorbed it forever
      val after = served(idx, 0L, 10)
      assert(!after.map(_._1).contains(victim),
        "the request after a racing mutation must serve it (pre-load stamp contract)")
      assert(after === distributed(idx, 0L, 10))
    } finally Search.hotLoadTestHook = () => ()
  }

  test("a takedown AFTER the hot image loaded is served immediately (stamp reload)") {
    // scratch copy so the shared per-JVM layouts stay pristine
    val clean = s"${Retrieval.graphIdxDir(spark, d)}/idx"
    val tmp = tempDir("graft_serve_del")
    def cp(src: java.io.File, dst: java.io.File): Unit =
      if (src.isDirectory) {
        dst.mkdirs(); src.listFiles().foreach(f => cp(f, new java.io.File(dst, f.getName)))
      } else java.nio.file.Files.copy(src.toPath, dst.toPath)
    cp(new java.io.File(clean), new java.io.File(s"$tmp/idx"))
    val idx = s"$tmp/idx"
    val before = served(idx, 0L, 10) // loads (and caches) the hot image
    val victim = before.head._1
    Search.deleteFromGraphIndex(Seq(victim).toDF("id"), col("id"), idx)
    val after = served(idx, 0L, 10)
    assert(!after.map(_._1).contains(victim),
      "the hot image must reload on the layout stamp and honor the new tombstone")
    assert(after === distributed(idx, 0L, 10),
      "post-takedown hot-tier walk must still equal the distributed walk")
  }
}
