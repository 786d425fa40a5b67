package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col

/** Pins the deferred-view registration contract
  * ([[graft.plans.DeferredView]] / [[SparkEntry.registerQueryViews]]):
  * registering the full ~220-query surface on a COLD scratch dir (every
  * per-JVM index cache misses) runs zero Spark jobs and finishes in
  * well under a second; constructions — including failures — happen at
  * the first query that resolves a view. */
class RegistrationSpec extends SparkSpec {

  /** Fresh copy of the sf0.001 tables, so sfDir-keyed caches are cold. */
  private def coldDir(): String = {
    val tmp = Paths.get(tempDir("graft_reg_cold"))
    val src = Paths.get("/root/testdata/sf0.001")
    Files.list(src).forEach { p =>
      if (p.getFileName.toString.endsWith(".parquet"))
        Files.copy(p, tmp.resolve(p.getFileName.toString),
          StandardCopyOption.REPLACE_EXISTING)
    }
    tmp.toString
  }

  test("registerQueryViews: zero Spark jobs and sub-second on a cold scratch dir") {
    val d = coldDir()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    // the one honest first-touch cost on a brand-new sfDir is parquet
    // schema inference for the ten base tables (a footer-read job each,
    // memoized per (JVM, sfDir) by Tables.table) — warm it OUTSIDE the
    // armed window so the assert pins the ~220 query-view registrations
    Tables.registerTables(spark, d)
    // settle any in-flight events from earlier suites before arming
    Thread.sleep(500)
    spark.sparkContext.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      SparkEntry.registerQueryViews(spark, d)
      val ms = (System.nanoTime() - t0) / 1e6
      Thread.sleep(1500) // listener bus is async — let it drain
      assert(jobs.get() === 0,
        s"registration ran ${jobs.get()} Spark job(s); it must be a pure catalog insert")
      assert(ms < 1000.0, f"registration took $ms%.0f ms; contract is sub-second")
      // the listener is live: the first real query DOES run jobs
      assert(spark.sql("SELECT * FROM agg_value_counts").count() > 0)
      Thread.sleep(1000)
      assert(jobs.get() > 0, "listener sanity: the first query should run jobs")
      // and a view whose construction BUILDS an at-rest index (the
      // heavy case the deferral exists for) builds it at this first
      // scan on the cold dir and serves
      assert(spark.sql("SELECT * FROM knn_ivf_idx").count() === 10)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      SparkEntry.registerQueryViews(spark, "/root/testdata/sf0.001")
    }
  }

  test("deferred views: schema matches the direct binding; self-join resolves; repeat queries reuse one build") {
    val d = "/root/testdata/sf0.001"
    SparkEntry.registerQueryViews(spark, d)
    Seq("knn_whole", "agg_stats", "graph_clustering").foreach { n =>
      val viewSchema = spark.table(n).schema
      val direct = SparkEntry.queries(n)(spark, d).schema
      assert(viewSchema === direct, s"view '$n' schema drifted from the binding")
    }
    // MultiInstanceRelation: the same deferred leaf twice in one plan
    val selfJoin = spark.sql(
      """SELECT a.vec_id FROM knn_whole a
         JOIN knn_whole b ON a.vec_id = b.vec_id""").count()
    assert(selfJoin === 10)
    // memoized body: two queries over an expensive view give identical
    // results (and the second resolves against the already-built frame)
    val r1 = spark.sql("SELECT * FROM knn_whole ORDER BY vec_id").collect().toSeq
    val r2 = spark.sql("SELECT * FROM knn_whole ORDER BY vec_id").collect().toSeq
    assert(r1 === r2)
  }

  test("built views pass through: a later filter reaches the parquet scan as a pushed filter") {
    val d = "/root/testdata/sf0.001"
    SparkEntry.registerQueryViews(spark, d)
    // first touch builds the view (through the opaque leaf) and
    // re-registers the concrete analyzed plan under the same name
    assert(spark.sql("SELECT * FROM etl_prefix_split").count() > 0)
    // later queries compose with the REAL plan: the predicate must
    // travel through the view's sort/project into the parquet scan
    val q = spark.sql("SELECT * FROM etl_prefix_split WHERE doc_id = 42")
    val physical = q.queryExecution.executedPlan.toString
    assert(!physical.contains("DeferredView"),
      "built view still plans through the opaque leaf:\n" + physical)
    assert(physical.contains("PushedFilters") &&
      physical.replaceAll("\\s", "").contains("EqualTo(doc_id,42)"),
      "doc_id = 42 did not reach the scan's PushedFilters:\n" + physical)
    // and the pass-through plan serves the same rows as the library call
    val direct = SparkEntry.queries("etl_prefix_split")(spark, d)
      .filter(col("doc_id") === 42).collect().toSeq
    assert(q.collect().toSeq === direct)
    // an UNBUILT sibling still registers lazily and keeps its barrier
    // (nothing here forced it); re-register for later suites
    SparkEntry.registerQueryViews(spark, d)
  }

  test("a re-registration racing a build wins: the stale build must not clobber the fresh binding") {
    import org.apache.spark.sql.functions.lit
    // thunk1 re-registers the SAME name mid-build — the deterministic
    // spelling of "register() ran while a build was in flight". The
    // post-build pass-through must see the catalog no longer holds its
    // node and skip the splice, so the fresh binding serves.
    graft.plans.DeferredView.register(spark, "graft_reg_race") {
      graft.plans.DeferredView.register(spark, "graft_reg_race") {
        spark.range(1).select(lit("fresh").as("who"))
      }
      spark.range(1).select(lit("stale").as("who"))
    }
    // the triggering query still runs through its own (stale) leaf —
    // correct for THAT query's snapshot semantics
    assert(spark.sql("SELECT who FROM graft_reg_race").head().getString(0)
      === "stale")
    // but the catalog now holds the fresh registration, un-clobbered
    assert(spark.sql("SELECT who FROM graft_reg_race").head().getString(0)
      === "fresh")
    spark.catalog.dropTempView("graft_reg_race")
  }

  test("a failed construction surfaces at the first query, not as a silently missing view") {
    // registration must not throw — nothing is constructed yet; the
    // boom fires at the first query that resolves the view, where the
    // caller is actually looking (the old eager registration degraded
    // this to a stderr line and a missing view)
    graft.plans.DeferredView.register(spark, "graft_reg_boom") {
      sys.error("boom at construction")
    }
    val e = intercept[RuntimeException] {
      spark.sql("SELECT * FROM graft_reg_boom").collect()
    }
    assert(e.getMessage.contains("boom at construction"))
    spark.catalog.dropTempView("graft_reg_boom")
  }
}
