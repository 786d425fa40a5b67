package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import graft.streaming.Streams.Ev

class StreamsSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(min: Int): Timestamp = new Timestamp(1700000000000L + min * 60000L)

  private val evs = Seq(
    Ev(1L, ts(0), 10L, "view", 1.0),
    Ev(2L, ts(5), 10L, "click", 2.0),
    Ev(3L, ts(70), 10L, "view", 3.0), // > 30 min gap → new session, next hour
    Ev(4L, ts(2), 20L, "view", 4.0),
    Ev(2L, ts(5), 10L, "click", 2.0)) // duplicate event_id

  test("tumblingCounts: identical results in batch and streaming (unified plan)") {
    val batch = Streams.tumblingCounts(evs.toDF()).orderBy("h", "event_type").collect()

    val input = MemoryStream[Ev]
    val q = Streams.tumblingCounts(Streams.withEventWatermark(input.toDF()))
      .writeStream.format("memory").queryName("tumbling_sink")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(evs)
      q.processAllAvailable()
      val streamed = spark.table("tumbling_sink").orderBy("h", "event_type").collect()
      assert(streamed.toSeq === batch.toSeq)
      assert(streamed.length === 3) // (h0: view, click), (h1: view)
    } finally q.stop()
  }

  test("sessionized: session_window splits on the 30-minute gap") {
    val input = MemoryStream[Ev]
    val q = Streams.sessionized(Streams.withEventWatermark(input.toDF()))
      .writeStream.format("memory").queryName("session_sink")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(evs)
      q.processAllAvailable()
      val rows = spark.table("session_sink")
        .select("user_id", "n_events").orderBy("user_id", "n_events").as[(Long, Long)].collect()
      // user 10: session {1,2,dup2} (dedup NOT applied here) = 3 events, then {3}
      assert(rows.toSeq === Seq((10L, 1L), (10L, 3L), (20L, 1L)))
    } finally q.stop()
  }

  test("deduped: duplicate event_ids collapse across micro-batches") {
    val input = MemoryStream[Ev]
    val q = Streams.deduped(input.toDF())
      .writeStream.format("memory").queryName("dedup_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(evs.take(3))
      q.processAllAvailable()
      input.addData(evs.drop(3)) // includes the dup of event_id=2 in a LATER batch
      q.processAllAvailable()
      val n = spark.table("dedup_sink").count()
      assert(n === 4, "5 rows in, 1 cross-batch duplicate dropped")
    } finally q.stop()
  }

  test("enriched: stream-static join broadcasts the dim side") {
    val dim = Seq(("view", "read"), ("click", "interact")).toDF("event_type", "category")
    val input = MemoryStream[Ev]
    val q = Streams.enriched(input.toDF(), dim)
      .writeStream.format("memory").queryName("enrich_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(evs.take(2))
      q.processAllAvailable()
      val m = spark.table("enrich_sink")
        .select("event_id", "category").as[(Long, String)].collect().toMap
      assert(m === Map(1L -> "read", 2L -> "interact"))
    } finally q.stop()
  }

  test("userDigest: mapGroupsWithState accumulates across micro-batches") {
    val input = MemoryStream[Ev]
    val q = Streams.userDigest(input.toDS())
      .writeStream.format("memory").queryName("digest_sink")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(evs.take(2)) // user 10: 2 events, 3.0 total
      q.processAllAvailable()
      input.addData(evs.slice(2, 4)) // user 10: +1 (6.0), user 20: 1
      q.processAllAvailable()
      val digest = spark.table("digest_sink").as[Streams.UserDigest].collect()
        .groupBy(_.user_id).map { case (u, ds) => u -> ds.maxBy(_.n_events) }
      assert(digest(10L).n_events === 3L)
      assert(math.abs(digest(10L).total_value - 6.0) < 1e-9)
      assert(digest(10L).last_type === "view")
      assert(digest(20L).n_events === 1L)
    } finally q.stop()
  }

  test("watermark: append-mode windows finalize and too-late rows are dropped") {
    val input = MemoryStream[Ev]
    // 10-minute watermark so hour-0's window closes quickly in event time
    val q = Streams.tumblingCounts(input.toDF().withWatermark("ts", "10 minutes"))
      .writeStream.format("memory").queryName("wm_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(Seq(Ev(1L, ts(0), 10L, "view", 1.0), Ev(2L, ts(5), 10L, "view", 2.0)))
      q.processAllAvailable()
      // advance event time far past hour 0 + watermark → finalizes hour-0 window
      input.addData(Seq(Ev(3L, ts(200), 10L, "view", 3.0)))
      q.processAllAvailable()
      val afterClose = spark.table("wm_sink").select("h", "n").as[(Timestamp, Long)].collect()
      assert(afterClose.exists(_._2 == 2L), s"hour-0 window (n=2) emitted: ${afterClose.toSeq}")
      // a row far older than the advanced watermark must be DROPPED
      input.addData(Seq(Ev(4L, ts(1), 10L, "view", 99.0)))
      q.processAllAvailable()
      input.addData(Seq(Ev(5L, ts(400), 10L, "view", 5.0)))
      q.processAllAvailable()
      val ns = spark.table("wm_sink").select("n").as[Long].collect().toSeq
      assert(!ns.contains(3L),
        s"late event must not re-open or re-emit the closed hour-0 window: $ns")
    } finally q.stop()
  }

  test("upsertByKey foreachBatch sink: later batches win, target stays keyed") {
    val dir = tempDir("graft_upsert")
    val target = s"$dir/target"
    val b1 = Seq(Ev(1L, ts(0), 10L, "view", 1.0), Ev(2L, ts(1), 11L, "view", 2.0)).toDF()
    Streams.upsertByKey(spark, target, "event_id")(b1, 0L)
    val b2 = Seq(Ev(2L, ts(2), 11L, "click", 9.0), Ev(3L, ts(3), 12L, "view", 3.0)).toDF()
    Streams.upsertByKey(spark, target, "event_id")(b2, 1L)
    val out = spark.read.parquet(target)
      .select("event_id", "event_type", "value").orderBy("event_id")
      .as[(Long, String, Double)].collect()
    assert(out.toSeq === Seq((1L, "view", 1.0), (2L, "click", 9.0), (3L, "view", 3.0)))
  }

  test("upsertByKey: stale staging dirs from crashed earlier batches are cleared") {
    val dir = tempDir("graft_upsert_heal")
    val target = s"$dir/target"
    // simulate two crashed attempts that staged but never swapped
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"${target}__staging_3"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"${target}__staging_7"))
    val b1 = Seq(Ev(1L, ts(0), 10L, "view", 1.0)).toDF()
    Streams.upsertByKey(spark, target, "event_id")(b1, 8L)
    val leftovers = new java.io.File(dir).list().toSeq.filter(_.contains("__staging_"))
    assert(leftovers.isEmpty, s"stale staging not cleaned: $leftovers")
    assert(spark.read.parquet(target).count() === 1)
    // and a sibling table's dirs are untouched by the prefix match
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/other__staging_1"))
    Streams.upsertByKey(spark, target, "event_id")(b1, 9L)
    assert(new java.io.File(s"$dir/other__staging_1").exists())
  }

  test("trailing-slash state dirs: sibling artifacts land beside the dir, not inside it") {
    // sibling artifacts (__old/__staging_/__batch_/__gate_) are built by
    // string concatenation, so an unnormalized "dir/" would nest them
    // INSIDE the state dir — where the rename-swap silently discards
    // them and the Path.getName-based cleaners never look. Pin that the
    // slash spelling is exactly the no-slash spelling.
    val dir = tempDir("graft_slash")
    val b1 = Seq(Ev(1L, ts(0), 10L, "view", 1.0)).toDF()
    Streams.upsertByKey(spark, s"$dir/target/", "event_id")(b1, 0L)
    val b2 = Seq(Ev(1L, ts(1), 10L, "click", 2.0)).toDF()
    Streams.upsertByKey(spark, s"$dir/target/", "event_id")(b2, 1L)
    assert(spark.read.parquet(s"$dir/target")
      .select("event_type").as[String].collect().toSeq === Seq("click"))
    assert(!new java.io.File(s"$dir/target").list().exists(_.contains("__")),
      "no sibling artifact may nest inside the target")
    // sketch state: the __batch_ marker must be a SIBLING (visible to
    // the gate's pruner and replay check), the state dir pure parquet
    val prep = Seq(("a", 0.1, 1.0), ("b", 0.2, 2.0))
      .toDF("__id", "__u", "__v")
    Streams.applySketchBatch(prep, s"$dir/sketch/", batchId = 0L, k = 8)
    assert(new java.io.File(s"$dir/sketch__batch_0").exists(),
      "marker must land as a sibling of the normalized dir")
    assert(!new java.io.File(s"$dir/sketch").list().exists(_.contains("__batch")),
      "no marker may nest inside the state dir")
    assert(spark.read.parquet(s"$dir/sketch").count() === 2L)
  }

  test("upsertByKeyPartitioned: only touched partitions are rewritten") {
    val dir = tempDir("graft_upsert_part")
    val target = s"$dir/target"
    def batch(rows: (Long, String, Double)*) =
      rows.toDF("event_id", "day", "value")
    // seed three day-partitions
    Streams.upsertByKeyPartitioned(spark, target, "event_id", "day")(
      batch((1L, "d1", 1.0), (2L, "d2", 2.0), (3L, "d3", 3.0)), 0L)
    def partFiles(day: String): Map[String, (Long, Long)] = {
      val d = new java.io.File(s"$target/day=$day")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> (f.length(), f.lastModified())).toMap
    }
    val d1Before = partFiles("d1")
    val d3Before = partFiles("d3")
    assert(d1Before.nonEmpty && d3Before.nonEmpty)
    // second batch touches ONLY d2 (update) — d1/d3 files must not change
    Streams.upsertByKeyPartitioned(spark, target, "event_id", "day")(
      batch((2L, "d2", 9.0), (4L, "d2", 4.0)), 1L)
    assert(partFiles("d1") === d1Before, "untouched partition d1 rewritten")
    assert(partFiles("d3") === d3Before, "untouched partition d3 rewritten")
    val out = spark.read.parquet(target)
      .select("event_id", "day", "value").orderBy("event_id")
      .as[(Long, String, Double)].collect().toSeq
    assert(out === Seq((1L, "d1", 1.0), (2L, "d2", 9.0), (3L, "d3", 3.0), (4L, "d2", 4.0)))
    // no staging dirs left behind
    assert(!new java.io.File(dir).listFiles().exists(_.getName.contains("staging")))
  }

  test("intervalJoin: stream-stream join within the time bound only") {
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val errors = MemoryStream[(Long, Long, Timestamp)]
    val joined = Streams.intervalJoin(
      clicks.toDF().toDF("click_id", "user_id", "cts"),
      Streams.intervalRight(errors.toDF().toDF("err_id", "user_id", "ets"), "user_id"),
      key = "user_id", lts = "cts", rts = "ets")
    val q = joined.select("click_id", "err_id")
      .writeStream.format("memory").queryName("ssj_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      errors.addData(Seq((100L, 10L, ts(5)), (101L, 10L, ts(40)), (102L, 20L, ts(9))))
      clicks.addData(Seq((1L, 10L, ts(10)))) // err 100 within 10min, 101 after, 102 other user
      q.processAllAvailable()
      val pairs = spark.table("ssj_sink").as[(Long, Long)].collect().toSet
      assert(pairs === Set((1L, 100L)), s"only in-window same-user error joins: $pairs")
    } finally q.stop()
  }

  test("dedupedByContent: token-identical docs dropped across micro-batches") {
    val input = MemoryStream[(Long, String)]
    val q = Streams.dedupedByContent(
        input.toDF().toDF("id", "text"), "text")
      .writeStream.format("memory").queryName("cdedup_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(Seq((1L, "the quick brown fox"), (2L, "totally different words")))
      q.processAllAvailable()
      input.addData(Seq(
        (3L, "the quick brown fox"), // exact dup of 1, later batch
        (4L, "THE Quick BROWN fox"), // case-normalized dup of 1
        (5L, "a genuinely new document")))
      q.processAllAvailable()
      val ids = spark.table("cdedup_sink").select("id").as[Long].collect().toSet
      assert(ids === Set(1L, 2L, 5L), s"dups 3,4 dropped: $ids")
    } finally q.stop()
  }

  test("dedupedByContent with watermark: dups dropped in-window, state evicted after") {
    // The bounded-state mode: dropDuplicatesWithinWatermark keyed by the
    // MinHash signature. A signature re-arriving within the watermark is
    // dropped; once the watermark passes its first occurrence, its state
    // is EVICTED and the same content is admitted again — the property
    // that lets an unbounded ingest stream run forever.
    val input = MemoryStream[(Long, Timestamp, String)]
    val q = Streams.dedupedByContent(
        input.toDF().toDF("id", "ts", "text"), "text",
        watermark = Some("ts" -> "10 minutes"))
      .writeStream.format("memory").queryName("wdedup_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(Seq((1L, ts(0), "the quick brown fox"),
        (2L, ts(1), "something else entirely")))
      q.processAllAvailable()
      // same signature within the watermark window → dropped
      input.addData(Seq((3L, ts(2), "the quick brown fox")))
      q.processAllAvailable()
      // advance event time far past 0:00 + 10min → signature state evicted
      input.addData(Seq((4L, ts(60), "unrelated watermark advancer")))
      q.processAllAvailable()
      // same content again, now past the watermark → admitted as new
      input.addData(Seq((5L, ts(61), "the quick brown fox")))
      q.processAllAvailable()
      val ids = spark.table("wdedup_sink").select("id").as[Long].collect().toSet
      assert(ids === Set(1L, 2L, 4L, 5L),
        s"3 dropped in-window, 5 admitted after eviction: $ids")
    } finally q.stop()
  }

  test("startUpsertStream: full writeStream wiring upserts across micro-batches") {
    val dir = tempDir("graft_upstream")
    val input = MemoryStream[Ev]
    val q = Streams.startUpsertStream(input.toDF(), s"$dir/target", s"$dir/ckpt")
    try {
      input.addData(Seq(Ev(1L, ts(0), 10L, "view", 1.0)))
      q.processAllAvailable()
      input.addData(Seq(Ev(1L, ts(2), 10L, "click", 5.0), Ev(2L, ts(3), 11L, "view", 2.0)))
      q.processAllAvailable()
      val out = spark.read.parquet(s"$dir/target")
        .select("event_id", "event_type").orderBy("event_id")
        .as[(Long, String)].collect().toSeq
      assert(out === Seq((1L, "click"), (2L, "view")), "latest batch wins per key")
    } finally q.stop()
  }

  test("hygieneGated: identical survivors and redactions in batch and streaming") {
    val docs = Seq(
      (1L, "reach me at bob@example.com about the quick brown fox and the lazy dog"),
      (2L, "the the the the the the quick fox"), // top_tok_frac 6/8 → repetition gate
      (3L, "too short"),                         // n_tokens < 5 → quality gate
      (4L, "zz qq xx yy ww vv uu"),              // no lang markers → language gate
      (5L, "the server at 10.1.2.3 and the backup line +4915112345678 are fine today"))
    val cols = Seq("id", "n_tokens", "lang_pred", "n_emails", "n_ips", "n_phones", "redacted")
    val batch = Streams.hygieneGated(docs.toDF("id", "text"), "text")
      .selectExpr(cols: _*).orderBy("id").collect().toSeq

    val input = MemoryStream[(Long, String)]
    val q = Streams.hygieneGated(input.toDF().toDF("id", "text"), "text")
      .selectExpr(cols: _*)
      .writeStream.format("memory").queryName("hygiene_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(docs.take(3)) // gates fire across micro-batch boundaries too
      q.processAllAvailable()
      input.addData(docs.drop(3))
      q.processAllAvailable()
      val streamed = spark.table("hygiene_sink").orderBy("id").collect().toSeq
      assert(streamed === batch, "batch and streaming must agree row for row")
      // only 1 and 5 survive; their PII is redacted with typed counts
      val m = spark.table("hygiene_sink")
        .select("id", "n_emails", "n_ips", "n_phones", "redacted")
        .as[(Long, Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
      assert(m.keySet === Set(1L, 5L))
      assert(m(1L)._2 === 1L && m(1L)._5.contains("<EMAIL>"))
      assert(m(5L)._3 === 1L && m(5L)._4 === 1L &&
        m(5L)._5.contains("<IP>") && m(5L)._5.contains("<PHONE>"))
      assert(!m(1L)._5.contains("bob@") && !m(5L)._5.contains("10.1.2.3"))
    } finally q.stop()
  }

  test("gopherGated: identical survivors in batch and streaming, row shape preserved") {
    val good = "the a " + (1 to 58).map(i => f"w$i%03d").mkString(" ")
    // 4-word unit × 30: clears length/stopword gates (mean len 3.0),
    // fails on repetition (top-2-gram mass and dup-gram coverage)
    val repetitive = Seq.fill(30)("the a wxyz qrst").mkString(" ")
    val docs = Seq(
      (1L, good),
      (2L, "too short for the word count gate"),
      (3L, repetitive),
      (4L, "the a " + (1 to 58).map(i => f"v$i%03d").mkString(" ")))
    val batch = Streams.gopherGated(docs.toDF("id", "text"), "text")
      .select("id").as[Long].collect().sorted.toSeq
    assert(batch === Seq(1L, 4L), "gates fire: word count drops 2, repetition drops 3")

    val input = MemoryStream[(Long, String)]
    val q = Streams.gopherGated(input.toDF().toDF("id", "text"), "text")
      .writeStream.format("memory").queryName("gopher_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(docs.take(2))
      q.processAllAvailable()
      input.addData(docs.drop(2))
      q.processAllAvailable()
      val streamed = spark.table("gopher_sink").orderBy("id")
        .as[(Long, String)].collect().toSeq
      assert(streamed.map(_._1) === batch, "batch and streaming must agree")
      // row shape preserved: the original columns, no metric residue
      assert(spark.table("gopher_sink").columns.toSeq === Seq("id", "text"))
      assert(streamed.head._2 === good, "text passes through untouched")
    } finally q.stop()
  }

  test("startUpsertStream with partCol routes through the partitioned upsert") {
    val dir = tempDir("graft_upstream_part")
    val input = MemoryStream[Ev]
    val q = Streams.startUpsertStream(
      input.toDF().withColumn("day", to_date($"ts")),
      s"$dir/target", s"$dir/ckpt", partCol = Some("day"))
    try {
      input.addData(Seq(Ev(1L, ts(0), 10L, "view", 1.0)))
      q.processAllAvailable()
      input.addData(Seq(Ev(1L, ts(2), 10L, "click", 5.0), Ev(2L, ts(3), 11L, "view", 2.0)))
      q.processAllAvailable()
      val out = spark.read.parquet(s"$dir/target")
        .select("event_id", "event_type").orderBy("event_id")
        .as[(Long, String)].collect().toSeq
      assert(out === Seq((1L, "click"), (2L, "view")), "latest batch wins per key")
      // and the layout is really partitioned by day
      assert(new java.io.File(s"$dir/target").listFiles()
        .exists(_.getName.startsWith("day=")))
    } finally q.stop()
  }

  test("nearDupPairsStream: banded candidates across batches, watermark evicts") {
    val base = "the quick brown fox jumps over the lazy dog while many other " +
      "animals watch from shade near the old stone bridge by the river bank " +
      "under warm evening light"
    val input = MemoryStream[(Long, Timestamp, String)]
    val q = Streams.nearDupPairsStream(
        input.toDF().toDF("id", "ts", "text"), "id", "text", "ts",
        minEst = 0.5, delayMinutes = 10)
      .writeStream.format("memory").queryName("ndp_sink")
      .outputMode(OutputMode.Append()).start()
    def pairs(): Set[(Long, Long)] = spark.table("ndp_sink")
      .select("doc_a", "doc_b").distinct().as[(Long, Long)].collect().toSet
    try {
      input.addData(Seq((1L, ts(0), base),
        (2L, ts(1), "completely unrelated text about catalyst physical plans here")))
      q.processAllAvailable()
      assert(pairs() === Set.empty, "no near-dups yet")
      // near-dup arrives in a LATER batch → pair against banded state
      input.addData(Seq((3L, ts(2), base + " tonight")))
      q.processAllAvailable()
      assert(pairs() === Set((1L, 3L)), s"only the true near-dup pair: ${pairs()}")
      val est = spark.table("ndp_sink").filter($"doc_a" === 1L)
        .select("est").as[Double].head()
      assert(est > 0.8, s"one appended token ≈ 0.97 Jaccard, est=$est")
      // advance the watermark far past docs 1-3, evicting their band state
      input.addData(Seq((4L, ts(60), "a watermark advancing row with distinct words")))
      q.processAllAvailable()
      // same content as doc 1 — its partner was evicted, so NO pair fires...
      input.addData(Seq((5L, ts(61), base)))
      q.processAllAvailable()
      assert(pairs() === Set((1L, 3L)), s"evicted state must not pair: ${pairs()}")
      // ...but a fresh in-window near-dup of doc 5 pairs immediately
      input.addData(Seq((6L, ts(62), base + " today")))
      q.processAllAvailable()
      assert(pairs() === Set((1L, 3L), (5L, 6L)), s"got ${pairs()}")
    } finally q.stop()
  }

  test("nearDupPairsStream: the same call works in batch with empty initial state") {
    val base = "the quick brown fox jumps over the lazy dog while many other " +
      "animals watch from shade near the old stone bridge by the river bank " +
      "under warm evening light"
    val batch = Seq((1L, ts(0), base), (2L, ts(1), base + " tonight"),
      (3L, ts(2), "entirely different words that should never band together"))
      .toDF("id", "ts", "text")
    val got = Streams.nearDupPairsStream(batch, "id", "text", "ts", minEst = 0.5)
      .toDF().select("doc_a", "doc_b").distinct().as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L)))
  }

  test("ingestPipeline: gate → dedup → partitioned upsert, redacted text at rest") {
    val dir = tempDir("graft_ingest_pipe")
    val input = MemoryStream[(Long, Timestamp, String, String)]
    val q = Streams.ingestPipeline(
      input.toDF().toDF("id", "ts", "day", "text"),
      textCol = "text", keyCol = "id", tsCol = "ts", partCol = "day",
      target = s"$dir/t", checkpoint = s"$dir/ckpt")
    try {
      input.addData(Seq(
        (1L, ts(0), "d1", "reach me at bob@example.com about the quick brown fox and the lazy dog"),
        (2L, ts(1), "d1", "the the the the the the quick fox"), // repetition gate
        (3L, ts(2), "d1", "a completely different sentence about the spark optimizer and its rules")))
      q.processAllAvailable()
      input.addData(Seq(
        (4L, ts(3), "d2", "reach me at bob@example.com about the quick brown fox and the lazy dog"), // content dup of 1
        (5L, ts(4), "d2", "another fine document with the usual english words in it")))
      q.processAllAvailable()
      val out = spark.read.parquet(s"$dir/t")
      val ids = out.select("event_id").as[Long].collect().toSet
      assert(ids === Set(1L, 3L, 5L),
        s"2 gated (repetition), 4 deduped (same signature as 1): $ids")
      // PII never lands at rest: the text column IS the redacted form
      val t1 = out.filter($"event_id" === 1L).select("text").as[String].head()
      assert(t1.contains("<EMAIL>") && !t1.contains("bob@example.com"))
      // partitioned layout on the part column
      assert(new java.io.File(s"$dir/t").listFiles().exists(_.getName.startsWith("day=")))
    } finally q.stop()
  }

  test("modelGatedIngest: gate flips as the streamed NB model learns; per-phase parity with the batch gate") {
    import graft.operators.Classify
    val dir = tempDir("graft_model_gate")
    val modelDir = s"$dir/model"
    val input = MemoryStream[(Long, Timestamp, String, String)]
    val q = Streams.modelGatedIngest(
      input.toDF().toDF("id", "ts", "day", "text"),
      textCol = "text", keyCol = "id", tsCol = "ts", partCol = "day",
      target = s"$dir/t", checkpoint = s"$dir/ckpt", modelDir = modelDir)
    def landed(): Set[Long] = spark.read.parquet(s"$dir/t")
      .select("event_id").as[Long].collect().toSet
    try {
      // phase 1 — COLD START: no model store yet → heuristics only, both
      // hygiene-passing docs land regardless of vocabulary
      input.addData(Seq(
        (1L, ts(0), "d1", "an excellent fluent quality document about the brown fox and prose"),
        (2L, ts(1), "d1", "the spam junk garbage collection with refuse words and some debris here")))
      q.processAllAvailable()
      assert(landed() === Set(1L, 2L), "cold start admits on heuristics alone")
      // phase 2 — the model stream learns (batch face of nbIngest):
      // positives carry the quality vocabulary, negatives the junk one
      val labeled = Seq(
        (101L, "the quick brown fox is excellent quality writing and fluent prose", true),
        (102L, "excellent fluent prose with quality words about the brown fox", true),
        (103L, "spam junk garbage refuse debris pile with more spam and junk", false),
        (104L, "the garbage refuse debris and spam junk words keep piling up", false))
        .toDF("doc_id", "text", "pos")
      Streams.applyNbBatch(labeled, $"text", $"pos", modelDir, batchId = 0L)
      assert(Streams.nbStoreReady(spark, modelDir))
      // phase 3 — SAME running query, next batch: the junk-vocab doc is
      // now rejected by the model, the quality-vocab doc still lands
      input.addData(Seq(
        (3L, ts(2), "d2", "a fluent and excellent new document of real quality about prose"),
        (4L, ts(3), "d2", "more spam junk and garbage debris refuse piling into this text")))
      q.processAllAvailable()
      assert(landed() === Set(1L, 2L, 3L),
        s"model must now reject the junk doc: ${landed()}")
      // per-phase parity with the batch gate: scoring phase 3's docs
      // against the SAME store replays the admission decision exactly
      val (llr, scalars) = Streams.nbModelFromStore(spark, modelDir)
      val preds = Classify.nbScore(
        Seq((3L, "a fluent and excellent new document of real quality about prose"),
          (4L, "more spam junk and garbage debris refuse piling into this text"))
          .toDF("doc_id", "text"),
        $"doc_id", $"text", llr, scalars)
        .select("doc_id", "pred_pos").as[(Long, Boolean)].collect().toMap
      assert(preds === Map(3L -> true, 4L -> false),
        "batch nbScore under the store state = the streamed admission")
    } finally q.stop()
  }

  test("fractionGatedIngest: below-k gate is the exact historical percentile; gate-then-learn; seed admits") {
    import graft.operators.Classify
    val dir = tempDir("graft_frac_gate")
    val modelDir = s"$dir/model"
    val sketchDir = s"$dir/sketch"
    // model store first (both classes) — no cold-start phase here, the
    // modelGatedIngest spec owns that path
    val labeled = Seq(
      (101L, "the quick brown fox is excellent quality writing and fluent prose", true),
      (102L, "excellent fluent prose with quality words about the brown fox", true),
      (103L, "spam junk garbage refuse debris pile with more spam and junk", false),
      (104L, "the garbage refuse debris and spam junk words keep piling up", false))
      .toDF("doc_id", "text", "pos")
    Streams.applyNbBatch(labeled, $"text", $"pos", modelDir, batchId = 0L)
    val input = MemoryStream[(Long, Timestamp, String, String)]
    val q = Streams.fractionGatedIngest(
      input.toDF().toDF("id", "ts", "day", "text"),
      textCol = "text", keyCol = "id", tsCol = "ts", partCol = "day",
      target = s"$dir/t", checkpoint = s"$dir/ckpt",
      modelDir = modelDir, sketchDir = sketchDir, frac = 0.5)
    def landed(): Set[Long] = spark.read.parquet(s"$dir/t")
      .select("event_id").as[Long].collect().toSet
    try {
      // phase 1 — margin history empty: the seed batch admits wholesale
      // AND seeds the distribution (one quality doc, one junk doc)
      val t1 = "an excellent fluent quality document about the brown fox and prose"
      val t2 = "the spam junk garbage collection with refuse words and some debris here"
      input.addData(Seq((1L, ts(0), "d1", t1), (2L, ts(1), "d1", t2)))
      q.processAllAvailable()
      assert(landed() === Set(1L, 2L), "empty history admits the seed batch")
      // the state now holds exactly phase 1's margins (below k = full
      // history) — the phase-2 gate threshold is their EXACT median
      val hist = spark.read.parquet(sketchDir).select("__v").as[Double].collect()
      assert(hist.length === 2)
      val thr = (hist.min + hist.max) / 2.0 // percentile(0.5) interpolation
      // phase 2 — judged against phase 1's distribution: quality above
      // the median lands, junk below it does not
      val t3 = "a fluent and excellent new document of real quality about prose"
      val t4 = "more spam junk and garbage debris refuse piling into this text"
      input.addData(Seq((3L, ts(2), "d2", t3), (4L, ts(3), "d2", t4)))
      q.processAllAvailable()
      assert(landed() === Set(1L, 2L, 3L),
        s"median gate must reject the junk doc: ${landed()}")
      // replay the decision with the batch faces: nbScore under the same
      // store, threshold = the exact historical percentile
      val (llr, scalars) = Streams.nbModelFromStore(spark, modelDir)
      val m = Classify.nbScore(Seq((3L, t3), (4L, t4)).toDF("doc_id", "text"),
        $"doc_id", $"text", llr, scalars)
        .select("doc_id", "nb_margin").as[(Long, Double)].collect().toMap
      assert(m(3L) >= thr && m(4L) < thr,
        s"streamed gate ≡ exact-percentile batch rule: $m vs $thr")
      // gate-then-learn: phase 2's margins joined the sample AFTER the
      // decision — state now holds all 4
      assert(spark.read.parquet(sketchDir).count() === 4L)
      // r14: the gate decision is DURABLE. Phase 2's sidecar holds the
      // PRE-learn threshold (phase 1's exact median), not anything
      // derived from the post-learn 4-margin state — so a crash-replay
      // of that batch reuses the original verdict even though the
      // sketch has already absorbed phase 2's margins (the drift the
      // sidecar exists to prevent). The first sidecar records the seed
      // verdict. Sidecar names carry a checkpoint tag + batchId; batch
      // ids are assigned by the engine (empty batches consume ids), so
      // locate them by name order rather than hardcoding ids.
      val gates = new java.io.File(dir).listFiles()
        .filter(f => f.getName.startsWith("sketch__gate_") &&
          !f.getName.contains("tmp") && !f.getName.endsWith(".crc"))
        .sortBy(f => f.getName.substring(f.getName.lastIndexOf('_') + 1).toLong)
        .map { f =>
          val src = scala.io.Source.fromFile(f, "UTF-8")
          try src.mkString.trim finally src.close()
        }
      assert(gates.length === 2, s"one sidecar per non-empty batch: ${gates.toSeq}")
      assert(gates(0) === "seed")
      assert(gates(1).toDouble === thr,
        "recorded threshold = the pre-learn phase-1 median")
    } finally q.stop()
  }

  test("composed admission stack: gopherGated → fractionGatedIngest ≡ batch rules→model→fraction") {
    // The production chain is rules → model → fraction in ONE ingest;
    // the stages were spec'd separately until r14. Each phase-2 doc
    // isolates one gate: gShort passes hygiene (≥5 tokens) but fails
    // Gopher (<50 words); gJunk passes Gopher but sits below the
    // fraction cut; gGood passes everything. Batch replay: the Gopher
    // verdicts come from the batch operator, the threshold from the
    // phase-1 sketch state, the margins from nbScore under the store.
    import graft.operators.{Classify, TextAnalysis}
    import graft.functions.TextFunctions
    val dir = tempDir("graft_stack")
    val modelDir = s"$dir/model"
    val sketchDir = s"$dir/sketch"
    // disjoint alphabetic filler per doc (content dedup must not collapse
    // docs; all-letters keeps the Gopher alpha ratio at 1.0)
    def filler(tag: String): Seq[String] =
      for (a <- Seq("ba", "de", "fi", "go", "lu", "ma", "ne", "po", "ra", "su");
           b <- Seq("ton", "ver", "mel", "dor", "kin")) yield tag + a + b
    def doc(tag: String, signal: String): String = {
      val f = filler(tag) // 50 distinct words
      (f.take(12) ++ Seq("the") ++ f.slice(12, 24) ++ Seq("and", "of") ++
        f.slice(24, 36) ++ Seq("that", "have", "with") ++ f.slice(36, 50) ++
        signal.split(" ")).mkString(" ")
    }
    val quality = "excellent fluent quality prose writing"
    val junk = "spam junk garbage debris refuse"
    val labeled = Seq(
      (101L, doc("qa", quality), true), (102L, doc("qb", quality), true),
      (103L, doc("ja", junk), false), (104L, doc("jb", junk), false))
      .toDF("doc_id", "text", "pos")
    Streams.applyNbBatch(labeled, $"text", $"pos", modelDir, batchId = 0L)
    val p1 = Seq((1L, ts(0), "d1", doc("pa", quality)),
      (2L, ts(1), "d1", doc("pb", junk)))
    val gShort = (filler("sa").take(15) ++ Seq("the", "and", "of") ++
      quality.split(" ")).mkString(" ") // 23 words: hygiene-pass, Gopher-fail
    val p2 = Seq(
      (3L, ts(2), "d2", gShort),
      (4L, ts(3), "d2", doc("pc", junk)),
      (5L, ts(4), "d2", doc("pd", quality)))
    val input = MemoryStream[(Long, Timestamp, String, String)]
    val q = Streams.fractionGatedIngest(
      Streams.gopherGated(input.toDF().toDF("id", "ts", "day", "text"),
        "text", stopwords = TextFunctions.EnglishStopwords),
      textCol = "text", keyCol = "id", tsCol = "ts", partCol = "day",
      target = s"$dir/t", checkpoint = s"$dir/ckpt",
      modelDir = modelDir, sketchDir = sketchDir, frac = 0.5)
    def landed(): Set[Long] = spark.read.parquet(s"$dir/t")
      .select("event_id").as[Long].collect().toSet
    try {
      input.addData(p1); q.processAllAvailable()
      assert(landed() === Set(1L, 2L), "seed: both Gopher-passed docs land")
      input.addData(p2); q.processAllAvailable()
      assert(landed() === Set(1L, 2L, 5L),
        s"stack: Gopher drops 3, fraction drops 4, 5 lands: ${landed()}")
      // batch replay of each stage's verdict —
      // (1) Gopher: the batch operator agrees doc 3 fails, 4 and 5 pass
      val gopherPass = TextAnalysis.withGopherMetrics(
          p2.toDF("id", "ts", "day", "text"), $"text",
          stopwords = TextFunctions.EnglishStopwords)
        .filter($"passes").select("id").as[Long].collect().toSet
      assert(gopherPass === Set(4L, 5L))
      // (2) fraction: the durable sidecar recorded phase 2's threshold
      // (the pre-learn phase-1 median); margins from the batch scorer
      // under the same store. The sketch itself has already absorbed
      // phase 2's margins — exactly why the sidecar, not a recompute,
      // is the replayable record.
      val gates = new java.io.File(dir).listFiles()
        .filter(f => f.getName.startsWith("sketch__gate_") &&
          !f.getName.contains("tmp") && !f.getName.endsWith(".crc"))
        .sortBy(f => f.getName.substring(f.getName.lastIndexOf('_') + 1).toLong)
        .map { f =>
          val src = scala.io.Source.fromFile(f, "UTF-8")
          try src.mkString.trim finally src.close()
        }
      assert(gates.head === "seed" && gates.length === 2)
      val thr = gates.last.toDouble
      val (llr, scalars) = Streams.nbModelFromStore(spark, modelDir)
      val m = Classify.nbScore(
        Seq((4L, doc("pc", junk)), (5L, doc("pd", quality)))
          .toDF("doc_id", "text"),
        $"doc_id", $"text", llr, scalars)
        .select("doc_id", "nb_margin").as[(Long, Double)].collect().toMap
      assert(m(5L) >= thr && m(4L) < thr,
        s"streamed gate ≡ batch rule on the Gopher survivors: $m vs $thr")
    } finally q.stop()
  }

  test("fractionGatedIngest: marker retention prunes dead sidecars, keeps the replay window") {
    val dir = tempDir("graft_frac_prune")
    val labeled = Seq(
      (101L, "the quick brown fox is excellent quality writing and fluent prose", true),
      (102L, "excellent fluent prose with quality words about the brown fox", true),
      (103L, "spam junk garbage refuse debris pile with more spam and junk", false),
      (104L, "the garbage refuse debris and spam junk words keep piling up", false))
      .toDF("doc_id", "text", "pos")
    Streams.applyNbBatch(labeled, $"text", $"pos", s"$dir/model", batchId = 0L)
    val input = MemoryStream[(Long, Timestamp, String, String)]
    val q = Streams.fractionGatedIngest(
      input.toDF().toDF("id", "ts", "day", "text"),
      textCol = "text", keyCol = "id", tsCol = "ts", partCol = "day",
      target = s"$dir/t", checkpoint = s"$dir/ckpt",
      modelDir = s"$dir/model", sketchDir = s"$dir/sketch", frac = 0.5,
      markerRetention = 2L)
    def markers(): Set[String] = new java.io.File(dir).listFiles()
      .map(_.getName)
      .filter(n => (n.contains("__gate_") || n.contains("__batch_")) &&
        !n.contains("tmp") && !n.endsWith(".crc"))
      .toSet
    try {
      // three non-empty phases land batch ids 0, 2, 4 (empty batches
      // consume the odd ids)
      (0 to 2).foreach { i =>
        input.addData(Seq((10L + i, ts(i), "d1",
          s"an excellent fluent quality document number ${('a' + i).toChar} about the brown fox")))
        q.processAllAvailable()
      }
      val m = markers()
      // retention 2 at batch 4 prunes ids < 2: batch-0 markers gone,
      // the replay window (ids 2 and 4) intact
      assert(!m.exists(_.endsWith("_0")), s"dead id-0 markers must prune: $m")
      assert(m.exists(_.endsWith("_2")) && m.exists(_.endsWith("_4")),
        s"replay-window markers must survive: $m")
    } finally q.stop()
  }

  test("fractionGatedIngest: the cold-start verdict is durable; a fresh checkpoint over stale sidecars is refused") {
    import graft.functions.TextFunctions
    val dir = tempDir("graft_frac_cold")
    val input = MemoryStream[(Long, Timestamp, String, String)]
    val ckpt = s"$dir/ckpt"
    // NO model store yet: batch 0 must land whole AND record the fact
    val q = Streams.fractionGatedIngest(
      input.toDF().toDF("id", "ts", "day", "text"),
      textCol = "text", keyCol = "id", tsCol = "ts", partCol = "day",
      target = s"$dir/t", checkpoint = ckpt,
      modelDir = s"$dir/model", sketchDir = s"$dir/sketch", frac = 0.5)
    try {
      input.addData(Seq(
        (1L, ts(0), "d1", "an excellent fluent quality document about the brown fox and prose"),
        (2L, ts(1), "d1", "the spam junk garbage collection with refuse words and some debris here")))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/t").count() === 2L)
      // the sidecar records "cold" — the verdict a crash-replay that
      // straddles the store becoming ready must honor (re-gating can't
      // retract rows the first attempt landed)
      val gates = new java.io.File(dir).listFiles()
        .filter(f => f.getName.startsWith("sketch__gate_") &&
          !f.getName.contains("tmp") && !f.getName.endsWith(".crc"))
      assert(gates.length === 1)
      val src = scala.io.Source.fromFile(gates.head, "UTF-8")
      val verdict = try src.mkString.trim finally src.close()
      assert(verdict === "cold")
      // and no margin ever joined the sketch on the cold path
      assert(!new java.io.File(s"$dir/sketch").exists())
    } finally q.stop()
    // reset guard: a FRESH checkpoint at the same path with that
    // sidecar still on disk must refuse loudly, not replay old verdicts
    def rm(f: java.io.File): Unit = {
      val kids = f.listFiles(); if (kids != null) kids.foreach(rm); f.delete()
    }
    rm(new java.io.File(ckpt))
    val e = intercept[IllegalArgumentException] {
      Streams.fractionGatedIngest(
        MemoryStream[(Long, Timestamp, String, String)].toDF()
          .toDF("id", "ts", "day", "text"),
        textCol = "text", keyCol = "id", tsCol = "ts", partCol = "day",
        target = s"$dir/t", checkpoint = ckpt,
        modelDir = s"$dir/model", sketchDir = s"$dir/sketch", frac = 0.5)
    }
    assert(e.getMessage.contains("sidecars"))
  }

  test("fractionGatedIngest: mid-swap crash state (__old) still gates — no wholesale admission") {
    // Simulates a crash inside applySketchBatch's two-rename swap
    // window: the live sketch dir is absent, the complete pre-batch
    // sample is parked at __old. A raw exists(sketchDir) check would
    // conclude "no history" and admit the whole batch (the pre-r14
    // bug); the healed read must find the history and keep gating.
    import graft.operators.Classify
    val dir = tempDir("graft_frac_heal")
    val modelDir = s"$dir/model"
    val sketchDir = s"$dir/sketch"
    val labeled = Seq(
      (101L, "the quick brown fox is excellent quality writing and fluent prose", true),
      (102L, "excellent fluent prose with quality words about the brown fox", true),
      (103L, "spam junk garbage refuse debris pile with more spam and junk", false),
      (104L, "the garbage refuse debris and spam junk words keep piling up", false))
      .toDF("doc_id", "text", "pos")
    Streams.applyNbBatch(labeled, $"text", $"pos", modelDir, batchId = 0L)
    // seed the margin history via the stream, then stop it
    val seedIn = MemoryStream[(Long, Timestamp, String, String)]
    val q1 = Streams.fractionGatedIngest(
      seedIn.toDF().toDF("id", "ts", "day", "text"),
      textCol = "text", keyCol = "id", tsCol = "ts", partCol = "day",
      target = s"$dir/t1", checkpoint = s"$dir/ckpt1",
      modelDir = modelDir, sketchDir = sketchDir, frac = 0.5)
    try {
      seedIn.addData(Seq(
        (1L, ts(0), "d1", "an excellent fluent quality document about the brown fox and prose"),
        (2L, ts(1), "d1", "the spam junk garbage collection with refuse words and some debris here")))
      q1.processAllAvailable()
    } finally q1.stop()
    // crash simulation: live dir vacated to __old (the exact state a
    // crash between applySketchBatch's two renames leaves behind)
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    assert(f.rename(new org.apache.hadoop.fs.Path(sketchDir),
      new org.apache.hadoop.fs.Path(s"${sketchDir}__old")))
    // a fresh gate stream over the crashed state must still gate
    val input = MemoryStream[(Long, Timestamp, String, String)]
    val q2 = Streams.fractionGatedIngest(
      input.toDF().toDF("id", "ts", "day", "text"),
      target = s"$dir/t2", checkpoint = s"$dir/ckpt2",
      textCol = "text", keyCol = "id", tsCol = "ts", partCol = "day",
      modelDir = modelDir, sketchDir = sketchDir, frac = 0.5)
    try {
      input.addData(Seq(
        (3L, ts(2), "d2", "a fluent and excellent new document of real quality about prose"),
        (4L, ts(3), "d2", "more spam junk and garbage debris refuse piling into this text")))
      q2.processAllAvailable()
      val landed = spark.read.parquet(s"$dir/t2")
        .select("event_id").as[Long].collect().toSet
      assert(landed === Set(3L),
        s"healed read must keep gating over __old history: $landed")
    } finally q2.stop()
  }

  test("modelGatedIngest benchmark gate: eval-contaminated docs never land") {
    import graft.operators.{Curation, GramIndex}
    val dir = tempDir("graft_bench_gate")
    // the benchmark set, indexed once at publication (n=5 shingles)
    val bench = Seq(
      (900L, "the secret held out evaluation passage nobody may train on"))
      .toDF("doc_id", "text")
    GramIndex.write(bench, $"doc_id", $"text", s"$dir/bench", n = 5)
    val input = MemoryStream[(Long, Timestamp, String, String)]
    val q = Streams.modelGatedIngest(
      input.toDF().toDF("id", "ts", "day", "text"),
      textCol = "text", keyCol = "id", tsCol = "ts", partCol = "day",
      target = s"$dir/t", checkpoint = s"$dir/ckpt",
      modelDir = s"$dir/model", benchmarkDir = Some(s"$dir/bench"))
    try {
      val contaminated = // carries a verbatim 5-gram run from the benchmark
        "my crawl found the secret held out evaluation passage and copied it"
      val clean =
        "a perfectly ordinary document about the weather and some other things"
      input.addData(Seq(
        (1L, ts(0), "d1", contaminated), (2L, ts(1), "d1", clean)))
      q.processAllAvailable()
      val landed = spark.read.parquet(s"$dir/t")
        .select("event_id").as[Long].collect().toSet
      assert(landed === Set(2L),
        s"benchmark-contaminated doc must never land (no model yet): $landed")
      // the decision replays as the batch operator against the same set
      val batchKept = Curation.decontaminate(
        Seq((1L, contaminated), (2L, clean)).toDF("doc_id", "text"),
        bench, $"doc_id", $"text", n = 5).as[Long].collect().toSet
      assert(batchKept === Set(2L))
    } finally q.stop()
  }

  test("streaming similarity scoring: fused cosine + broadcast vocab on a stream") {
    // the SRS ingest flow (upload → auto-tag/suggest): incoming embeddings
    // scored against a static centroid table with the same kernels the
    // batch queries use — retrieval transforms are streaming-compatible
    val cents = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f))).toDF("cid", "c")
    val input = MemoryStream[(Long, Seq[Float])]
    val scored = input.toDF().toDF("vec_id", "embedding")
      .crossJoin(broadcast(cents))
      .withColumn("cos", graft.functions.VectorExpressions.fusedCosine(
        spark, $"embedding", $"c"))
      .filter($"cos" > 0.9)
    val q = scored.select("vec_id", "cid")
      .writeStream.format("memory").queryName("score_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(Seq((100L, Seq(0.99f, 0.01f)), (200L, Seq(0.01f, 0.99f))))
      q.processAllAvailable()
      val m = spark.table("score_sink").as[(Long, Long)].collect().toMap
      assert(m === Map(100L -> 0L, 200L -> 1L), "each vector tags its own centroid")
    } finally q.stop()
  }

  test("indexIngest: streamed index serves bit-identical to a full rebuild") {
    import graft.operators.Lexical
    val dir = tempDir("graft_idx_stream")
    val b1 = Seq(
      (1L, "the vector engine joins a hash join to a stream"),
      (2L, "filter the stream before the hash join runs"))
    val b2 = Seq(
      (3L, "a vector and another vector filter the batch"),
      (4L, "hash join hash join twice in one doc"))
    val input = MemoryStream[(Long, String)]
    val q = Streams.indexIngest(
      input.toDF().toDF("doc_id", "text"), s"$dir/idx", s"$dir/ckpt")
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      (b1 ++ b2).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/docs")
      Lexical.writeInvertedIndex(
        spark.read.parquet(s"$dir/docs"), $"doc_id", $"text", s"$dir/full")
      val a = Lexical.bm25FromIndex(spark, s"$dir/idx")
        .as[(Long, Double)].collect().toMap
      val b = Lexical.bm25FromIndex(spark, s"$dir/full")
        .as[(Long, Double)].collect().toMap
      assert(a === b, "streamed BM25 must equal the full rebuild")
      assert(a.keySet === Set(1L, 2L, 3L), "docs matching the query terms")
      val pa = Lexical.phraseFromIndex(spark, s"$dir/idx")
        .as[(Long, Long)].collect().toMap
      val pb = Lexical.phraseFromIndex(spark, s"$dir/full")
        .as[(Long, Long)].collect().toMap
      assert(pa === pb && pa(4L) === 2L,
        "streamed phrase counts must equal the rebuild, incl. repeats")
    } finally {
      q.stop()
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("gramIngest: appended lake docs are immediately audit-visible; equals batch audit on the union") {
    import graft.operators.{Dedup, GramIndex}
    val dir = tempDir("graft_gram_stream")
    val b1 = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "completely different content with no shared runs at all okay"))
    val b2 = Seq( // adds the probe's SECOND window (…theta novel) to the lake
      (3L, "beta gamma delta epsilon zeta eta theta novel more words"))
    val probe = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta novel suffix"),
      (101L, "nothing in this probe matches any lake window of eight tokens"))
      .toDF("doc_id", "text")
    def audit() = GramIndex.memorizationRateFromIndex(
      probe, $"doc_id", $"text", s"$dir/idx")
      .as[(Long, Long, Long, Double)].collect().toSeq
    val input = MemoryStream[(Long, String)]
    val q = Streams.gramIngest(
      input.toDF().toDF("doc_id", "text"), s"$dir/idx", s"$dir/ckpt")
    try {
      input.addData(b1); q.processAllAvailable()
      val after1 = audit()
      input.addData(b2); q.processAllAvailable()
      val after2 = audit()
      // batch analog on each prefix — the streamed index IS the audit state
      val p1 = Dedup.memorizationRate(probe, b1.toDF("doc_id", "text"),
        $"doc_id", $"text", n = 8).as[(Long, Long, Long, Double)].collect().toSeq
      val p2 = Dedup.memorizationRate(probe, (b1 ++ b2).toDF("doc_id", "text"),
        $"doc_id", $"text", n = 8).as[(Long, Long, Long, Double)].collect().toSeq
      assert(after1 === p1, "audit after batch 1 = batch audit on prefix 1")
      assert(after2 === p2, "audit after batch 2 = batch audit on the union")
      assert(after1 !== after2,
        "batch 2's appended doc must actually change the probe's rate")
    } finally {
      q.stop()
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("phashIngest: streamed image batches are immediately probe-visible; equals a one-shot build") {
    import graft.operators.Multimodal
    val dir = tempDir("graft_ph_stream")
    def imgs(ids: Seq[Long]) = graft.sources.JdkImage
      .renderBmpFixtures(ids.toDF("doc_id")).toDF("doc_id", "payload")
    val all = (1L to 120L)
    val (b2ids, b1ids) = all.partition(_ % 3 == 0)
    val probeIds = all
    def probe(): Set[(Long, Long, Long)] =
      Multimodal.probePhashIndex(imgs(probeIds), s"$dir/idx")
        .filter($"doc_a" < $"doc_b")
        .as[(Long, Long, Long)].collect().toSet
    val input = MemoryStream[Long]
    val q = Streams.phashIngest(
      input.toDF().toDF("doc_id")
        .join(imgs(all), "doc_id"), // payload joined per batch
      s"$dir/idx", s"$dir/ckpt", markerRetention = 2L)
    try {
      input.addData(b1ids); q.processAllAvailable()
      val after1 = probe()
      input.addData(b2ids); q.processAllAvailable()
      val after2 = probe()
      // batch analog: one-shot builds over each prefix of the lake
      def oneShot(lake: Seq[Long]): Set[(Long, Long, Long)] = {
        val tmp = tempDir("graft_ph_ref")
        Multimodal.writePhashIndex(imgs(lake), tmp)
        Multimodal.probePhashIndex(imgs(probeIds), tmp)
          .filter($"doc_a" < $"doc_b")
          .as[(Long, Long, Long)].collect().toSet
      }
      assert(after1 === oneShot(b1ids),
        "probe after batch 1 = one-shot build on prefix 1")
      assert(after2 === oneShot(all.toSeq),
        "probe after batch 2 = one-shot build on the union")
      assert(after1 !== after2,
        "batch 2's appended frames must actually add pairs")
      // marker retention: this stateless stream lands consecutive ids
      // (0, 1 so far); two more batches reach id 3, where retention 2
      // prunes the dead id-0 marker and keeps the replay window — the
      // long-lived-stream FS-metadata bound the index family shares
      // with the fraction gate's sidecars
      input.addData(Seq(1L)); q.processAllAvailable() // benign dup append
      input.addData(Seq(2L)); q.processAllAvailable()
      val markers = new java.io.File(s"$dir/idx").listFiles()
        .map(_.getName)
        .filter(n => n.startsWith("_batch_") && !n.endsWith(".crc"))
        .toSet
      assert(markers === Set("_batch_1", "_batch_2", "_batch_3"),
        s"dead markers must prune, replay window must survive: $markers")
    } finally {
      q.stop()
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("urlBlocklistGated composes into a streaming ingest (stateless per-row gate)") {
    import graft.operators.Curation
    val dir = tempDir("graft_url_stream")
    val input = MemoryStream[(Long, Timestamp, String, String, String)]
    // the blocklist gate FIRST (stage-1: cheapest, before any content
    // look), then the standard hygiene chain and upsert sink
    val gated = Curation.urlBlocklistGated(
      input.toDF().toDF("id", "ts", "day", "url", "text"),
      $"url", Seq("evil.example.com"))
    val q = Streams.ingestPipeline(gated,
      textCol = "text", keyCol = "id", tsCol = "ts", partCol = "day",
      target = s"$dir/t", checkpoint = s"$dir/ckpt")
    try {
      val body = "a perfectly ordinary document with the usual words and some more of them here"
      input.addData(Seq(
        (1L, ts(0), "d1", "https://good.example.org/a", body),
        (2L, ts(1), "d1", "https://cdn.evil.example.com/b", body + " varied"),
        (3L, ts(2), "d1", "https://notevil.example.com/c", body + " again differently")))
      q.processAllAvailable()
      val landed = spark.read.parquet(s"$dir/t")
        .select("event_id").as[Long].collect().toSet
      assert(landed === Set(1L, 3L),
        s"the blocked subdomain must never reach the hygiene chain: $landed")
    } finally q.stop()
  }

  test("lineCountIngest: streamed line counts serve excision identical to a one-shot count") {
    import graft.operators.TextAnalysis
    val dir = tempDir("graft_lc_stream")
    val boiler = "subscribe to our newsletter"
    val b1 = Seq((1L, s"$boiler\nfirst article body"),
      (2L, s"second piece\n$boiler"))
    val b2 = Seq((3L, s"$boiler\nthird text"), (4L, "clean doc"))
    val probe = (b1 ++ b2).toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val q = Streams.lineCountIngest(input.toDF().toDF("doc_id", "text"),
      "text", s"$dir/idx", s"$dir/ckpt")
    def served(path: String): Seq[(Long, String, Long, Long)] =
      TextAnalysis.exciseFromLineIndex(probe, $"doc_id", $"text", path,
        maxOcc = 2L).orderBy("doc_id")
        .as[(Long, String, Long, Long)].collect().toSeq
    try {
      input.addData(b1); q.processAllAvailable()
      // after batch 1 the boiler count is 2 (≤ cap) — nothing excises
      assert(served(s"$dir/idx").map(_._4).sum === 0L)
      input.addData(b2); q.processAllAvailable()
      // after batch 2 the accumulated count is 3 — excises everywhere,
      // exactly like a one-shot count over the union
      val ref = tempDir("graft_lc_sref")
      TextAnalysis.writeLineCountIndex(probe, $"text", ref)
      assert(served(s"$dir/idx") === served(ref))
      assert(served(s"$dir/idx").map(_._4).sum === 3L)
    } finally {
      q.stop()
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("hplIngest: streamed hyperplane index pairs identical to a one-shot build") {
    import graft.operators.Dedup
    val dir = tempDir("graft_hpl_stream")
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect().toSeq
    val (b2, b1) = emb.partition(_._1 % 3 == 0)
    val input = MemoryStream[(Long, Array[Float])]
    val q = Streams.hplIngest(input.toDF().toDF("vec_id", "embedding"),
      $"embedding", s"$dir/idx", s"$dir/ckpt")
    def probe(path: String): Set[(Long, Long)] = {
      val all = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      Dedup.probeHyperplaneIndex(all, $"vec_id", $"embedding", path)
        .filter($"vec_a" < $"vec_b")
        .as[(Long, Long)].collect().toSet
    }
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      val streamed = probe(s"$dir/idx")
      Dedup.writeHyperplaneIndex(
        graft.Tables.embeddings(spark, "/root/testdata/sf0.001"),
        $"vec_id", $"embedding", s"$dir/full")
      assert(streamed === probe(s"$dir/full"),
        "streamed index must pair exactly what a one-shot build pairs")
      assert(streamed.nonEmpty, "fixture corpus must propose candidates")
    } finally {
      q.stop()
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("ivfIngest: streamed IVF index serves identical to a batch build; replays skip") {
    import graft.operators.Search
    val dir = tempDir("graft_ivf_stream")
    val cents = Seq((0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0))).toDF("cid", "c")
    val b1 = Seq((1L, Array(0.9, 0.1)), (2L, Array(0.1, 0.9)))
    val b2 = Seq((3L, Array(0.8, 0.2)), (4L, Array(0.05, 1.0)))
    val input = MemoryStream[(Long, Array[Double])]
    val q = Streams.ivfIngest(input.toDF().toDF("vec_id", "embedding"),
      $"embedding", cents, s"$dir/idx", s"$dir/ckpt")
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      (b1 ++ b2).toDF("vec_id", "embedding").write.parquet(s"$dir/docs")
      Search.writeIvfIndex(spark.read.parquet(s"$dir/docs"), $"embedding",
        cents, s"$dir/full")
      val query = Seq(Tuple1(Array(1.0, 0.05))).toDF("qv")
      def served(path: String): Seq[(Long, Long)] =
        Search.knnIvfIndexed(spark, path, $"embedding", cents, query,
          nprobe = 1, k = 10, tie = $"vec_id")
          .select($"vec_id", $"cluster".cast("long"))
          .as[(Long, Long)].collect().toSeq
      assert(served(s"$dir/idx") === served(s"$dir/full"),
        "streamed index must serve exactly what a batch build serves")
      assert(served(s"$dir/idx").map(_._1) === Seq(1L, 3L),
        "nprobe=1 probe must prune to the cluster-0 partition")
      // replay idempotence: re-applying an already-marked batch is a no-op
      val before = spark.read.parquet(s"$dir/idx").count()
      Streams.applyIvfBatch(b1.toDF("vec_id", "embedding"), $"embedding",
        cents, s"$dir/idx", batchId = 0L)
      assert(spark.read.parquet(s"$dir/idx").count() === before,
        "a marked batch must not append again")
      // and an unmarked one appends exactly its rows
      Streams.applyIvfBatch(Seq((5L, Array(1.0, 0.0))).toDF("vec_id", "embedding"),
        $"embedding", cents, s"$dir/idx", batchId = 99L)
      assert(spark.read.parquet(s"$dir/idx").count() === before + 1)
    } finally {
      q.stop()
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("ivfIngest-maintained lake serves incremental semantic dedup ≡ in-plan") {
    import graft.operators.{Dedup, Search}
    val dir = tempDir("graft_sem_stream")
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))).toDF("cid", "c")
    // the lake arrives as two micro-batches into the cluster-partitioned
    // index — the SAME layout the semantic probe partition-prunes, so
    // streaming maintenance and incremental dedup compose with no glue
    val b1 = Seq((10L, Array(0.9, 0.1)), (11L, Array(0.1, 0.9)))
    val b2 = Seq((12L, Array(0.95, 0.05)))
    val input = MemoryStream[(Long, Array[Double])]
    val q = Streams.ivfIngest(input.toDF().toDF("vec_id", "embedding"),
      $"embedding", cents, s"$dir/idx", s"$dir/ckpt")
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      val inc = Seq((20L, Array(0.92, 0.08)), (21L, Array(0.0, 1.0)))
        .toDF("vec_id", "embedding")
      val served = Dedup.semanticDedupIncrementIdx(spark, s"$dir/idx", inc,
          $"vec_id", $"embedding", cents, minCos = 0.99)
        .select($"__vid", $"is_dup", $"dup_of")
        .as[(Long, Boolean, Option[Long])].collect().sortBy(_._1).toSeq
      val inPlan = Dedup.semanticDedupIncrement(inc,
          (b1 ++ b2).toDF("vec_id", "embedding"),
          $"vec_id", $"embedding", cents, minCos = 0.99)
        .select($"__vid", $"is_dup", $"dup_of")
        .as[(Long, Boolean, Option[Long])].collect().sortBy(_._1).toSeq
      assert(served === inPlan, "streamed lake ≡ in-plan lake")
      assert(served === Seq((20L, true, Some(10L)), (21L, true, Some(11L))),
        s"both arrivals find their smallest streamed witness: $served")
    } finally {
      q.stop()
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("semanticIngest: arriving near-dups are dropped against batch AND lake; replay idempotent") {
    import graft.operators.Dedup
    val dir = tempDir("graft_sem_ingest")
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))).toDF("cid", "c")
    val b1 = Seq((10L, Array(0.9, 0.1)), (11L, Array(0.1, 0.9)))
    // 12 ~ lake 10 (cross-batch dup), 13 new, 14 ~ 13 (within-batch dup)
    val b2 = Seq((12L, Array(0.91, 0.09)), (13L, Array(0.5, 0.86)),
      (14L, Array(0.52, 0.85)))
    val input = MemoryStream[(Long, Array[Double])]
    val q = Streams.semanticIngest(input.toDF().toDF("vec_id", "embedding"),
      $"vec_id", $"embedding", cents, s"$dir/idx", s"$dir/ckpt", minCos = 0.99)
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      def lakeIds = spark.read.parquet(s"$dir/idx")
        .select("vec_id").as[Long].collect().toSeq.sorted
      assert(lakeIds === Seq(10L, 11L, 13L),
        "cross-batch dup 12 and within-batch dup 14 must not land")
      // replay idempotence: re-applying a marked batch is a no-op
      Streams.applySemanticBatch(b2.toDF("vec_id", "embedding"),
        $"vec_id", $"embedding", cents, s"$dir/idx", batchId = 1L,
        minCos = 0.99)
      assert(lakeIds === Seq(10L, 11L, 13L))
      // the maintained lake serves the probe directly: a new arrival
      // near 13 is flagged with the streamed witness
      val probe = Dedup.semanticDedupIncrementIdx(spark, s"$dir/idx",
          Seq((20L, Array(0.51, 0.86))).toDF("vec_id", "embedding"),
          $"vec_id", $"embedding", cents, minCos = 0.99)
        .select($"is_dup", $"dup_of").as[(Boolean, Option[Long])]
        .collect().toSeq
      assert(probe === Seq((true, Some(13L))))
    } finally {
      q.stop()
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("graphIngest: streamed inserts are reachable (incl. within-batch links); replays skip") {
    import graft.operators.Search
    val dir = tempDir("graft_graph_stream")
    // base corpus: 8 points fanned over the upper half-plane, ring edges
    def ang(deg: Double) = Array(math.cos(math.toRadians(deg)), math.sin(math.toRadians(deg)))
    val base = (0 until 8).map(i => (i.toLong, ang(30 + i * 15)))
    val ring = (0 until 8).flatMap(i =>
      Seq((i.toLong, ((i + 1) % 8).toLong), (i.toLong, ((i + 7) % 8).toLong)))
    Search.writeGraphIndex(base.toDF("vec_id", "embedding"),
      $"vec_id", $"embedding", ring.toDF("__vid", "nbr_id"),
      s"$dir/idx", entriesN = 4, buckets = 4)
    val query = Seq(Tuple1(ang(0))).toDF("qv")
    def serve(k: Int) = Search.graphSearchIndexed(spark, s"$dir/idx", query,
      k = k, beam = 4, hops = 4, buckets = 4).select("id").as[Long].collect().toSeq
    assert(!serve(3).contains(100L))
    // batch 1: two NEW vectors near angle 0 — far from the ring's span;
    // id 100 links into the old graph, id 101 (inserted second) can link
    // to 100 within the same batch; both must be reachable afterwards
    // through the REVERSE edges their insert appended
    val input = MemoryStream[(Long, Array[Double])]
    val q = Streams.graphIngest(input.toDF().toDF("vec_id", "embedding"),
      $"vec_id", $"embedding", s"$dir/idx", s"$dir/ckpt",
      linkK = 2, beam = 4, hops = 4, buckets = 4)
    try {
      input.addData(Seq((100L, ang(2)), (101L, ang(-2)))); q.processAllAvailable()
      val got = serve(3)
      assert(got.take(2).toSet === Set(100L, 101L),
        s"streamed vectors must be the served best matches: $got")
      // batch 2 arrives later and is immediately reachable too
      input.addData(Seq((102L, ang(1)))); q.processAllAvailable()
      assert(serve(3).contains(102L))
      // replay idempotence: a marked batch is a no-op
      val nodesBefore = spark.read.parquet(s"$dir/idx/nodes").count()
      val edgesBefore = spark.read.parquet(s"$dir/idx/edges").count()
      Streams.applyGraphBatch(Seq((100L, ang(2))).toDF("vec_id", "embedding"),
        $"vec_id", $"embedding", s"$dir/idx", batchId = 0L,
        linkK = 2, beam = 4, hops = 4, buckets = 4)
      assert(spark.read.parquet(s"$dir/idx/nodes").count() === nodesBefore)
      assert(spark.read.parquet(s"$dir/idx/edges").count() === edgesBefore)
      // an unmarked batch appends its node and its fwd+rev links
      Streams.applyGraphBatch(Seq((103L, ang(3))).toDF("vec_id", "embedding"),
        $"vec_id", $"embedding", s"$dir/idx", batchId = 99L,
        linkK = 2, beam = 4, hops = 4, buckets = 4)
      assert(spark.read.parquet(s"$dir/idx/nodes").count() === nodesBefore + 1)
      assert(spark.read.parquet(s"$dir/idx/edges").count() === edgesBefore + 4)
    } finally {
      q.stop()
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("graphIngest ≡ batch appendToGraphIndex: same increment, identical layout and serving") {
    import graft.operators.Search
    // the add-vs-train split's parity contract: a micro-batch STREAMED
    // into the layout must land exactly what the batch append lands —
    // same nodes, same forward+reverse edge multiset, same served page
    val root = tempDir("graft_graph_par")
    def ang(deg: Double) = Array(math.cos(math.toRadians(deg)), math.sin(math.toRadians(deg)))
    val base = (0 until 8).map(i => (i.toLong, ang(30 + i * 15)))
    val ring = (0 until 8).flatMap(i =>
      Seq((i.toLong, ((i + 1) % 8).toLong), (i.toLong, ((i + 7) % 8).toLong)))
    Seq("s", "b").foreach { leg =>
      Search.writeGraphIndex(base.toDF("vec_id", "embedding"),
        $"vec_id", $"embedding", ring.toDF("__vid", "nbr_id"),
        s"$root/$leg/idx", entriesN = 4, buckets = 4)
    }
    val inc = Seq((100L, ang(2)), (101L, ang(-2)))
    val input = MemoryStream[(Long, Array[Double])]
    val q = Streams.graphIngest(input.toDF().toDF("vec_id", "embedding"),
      $"vec_id", $"embedding", s"$root/s/idx", s"$root/ckpt",
      linkK = 2, beam = 4, hops = 4, buckets = 4)
    try {
      input.addData(inc); q.processAllAvailable()
    } finally q.stop()
    Search.appendToGraphIndex(inc.toDF("vec_id", "embedding"),
      $"vec_id", $"embedding", s"$root/b/idx",
      linkK = 2, beam = 4, hops = 4, buckets = 4)
    def nodes(leg: String) = spark.read.parquet(s"$root/$leg/idx/nodes")
      .select("id").as[Long].collect().sorted.toSeq
    def edges(leg: String) = spark.read.parquet(s"$root/$leg/idx/edges")
      .select("__vid", "nbr_id").as[(Long, Long)].collect().sorted.toSeq
    assert(nodes("s") === nodes("b"))
    assert(edges("s") === edges("b"))
    val query = Seq(Tuple1(ang(0))).toDF("qv")
    def serve(leg: String) = Search.graphSearchIndexed(spark, s"$root/$leg/idx",
      query, k = 4, beam = 4, hops = 4, buckets = 4)
      .as[(Long, Double)].collect().toSeq
    assert(serve("s") === serve("b")) // bit-identical scores and order
    def rm(f: java.io.File): Unit = {
      val kids = f.listFiles(); if (kids != null) kids.foreach(rm); f.delete()
    }
    rm(new java.io.File(root))
  }

  test("takedownIngest: one deletion stream fans out to multiple index families; replay harmless") {
    import graft.operators.Search
    val dir = tempDir("graft_takedown")
    def ang(deg: Double) = Array(math.cos(math.toRadians(deg)), math.sin(math.toRadians(deg)))
    val base = (0 until 8).map(i => (i.toLong, ang(i * 40)))
    // family 1: IVF layout; family 2: graph layout — same id space
    val cents = Seq((0L, Array(1.0, 0.0)), (1L, Array(-1.0, 0.0))).toDF("cid", "c")
    Search.writeIvfIndex(base.toDF("vec_id", "embedding"), $"embedding",
      cents, s"$dir/ivf")
    val ring = (0 until 8).flatMap(i =>
      Seq((i.toLong, ((i + 1) % 8).toLong), (i.toLong, ((i + 7) % 8).toLong)))
    Search.writeGraphIndex(base.toDF("vec_id", "embedding"),
      $"vec_id", $"embedding", ring.toDF("__vid", "nbr_id"),
      s"$dir/graph", entriesN = 4, buckets = 4)
    val query = Seq(Tuple1(ang(0))).toDF("qv")
    def servedIvf() = Search.knnIvfIndexed(spark, s"$dir/ivf", $"embedding",
      cents, query, nprobe = 2, k = 8, tie = $"vec_id")
      .select("vec_id").as[Long].collect().toSet
    def servedGraph() = Search.graphSearchIndexed(spark, s"$dir/graph",
      query, k = 8, beam = 4, hops = 4, buckets = 4)
      .select("id").as[Long].collect().toSet
    assert(servedIvf().contains(0L) && servedGraph().contains(0L))
    val input = MemoryStream[Long]
    val q = Streams.takedownIngest(input.toDF().toDF("vec_id"), $"vec_id",
      Seq(s"$dir/ivf", s"$dir/graph"), s"$dir/ckpt")
    try {
      input.addData(Seq(0L, 3L)); q.processAllAvailable()
      assert((servedIvf() & Set(0L, 3L)).isEmpty, "ivf excludes after batch 1")
      assert((servedGraph() & Set(0L, 3L)).isEmpty, "graph excludes after batch 1")
      input.addData(Seq(5L)); q.processAllAvailable()
      assert((servedIvf() & Set(0L, 3L, 5L)).isEmpty)
      assert((servedGraph() & Set(0L, 3L, 5L)).isEmpty)
      // replayed/duplicated takedown rows are a no-op (distinct read)
      val before = (servedIvf(), servedGraph())
      graft.sources.Tombstones.add(Seq(0L, 5L).toDF("vec_id"), $"vec_id", s"$dir/ivf")
      graft.sources.Tombstones.add(Seq(0L, 5L).toDF("vec_id"), $"vec_id", s"$dir/graph")
      assert((servedIvf(), servedGraph()) === before)
    } finally {
      q.stop()
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("fileIngest: streaming file source reads the events shape") {
    val dir = tempDir("graft_ingest")
    evs.take(3).toDF().write.parquet(s"$dir/in")
    val q = Streams.fileIngest(spark, s"$dir/in", maxFilesPerTrigger = 1)
      .writeStream.format("memory").queryName("ingest_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      assert(spark.table("ingest_sink").count() === 3)
    } finally q.stop()
  }

  test("nbIngest: streamed count state == full retrain; crash replay can't double-count") {
    val dir = tempDir("graft_nbmodel")
    val ckpt = tempDir("graft_nbmodel_ck")
    val b1 = Seq((1L, "good fine good", true), (2L, "bad awful", false))
    val b2 = Seq((3L, "fine new tokens", true), (4L, "awful bad bad", false),
      (5L, "good awful", true))
    val input = MemoryStream[(Long, String, Boolean)]
    val q = Streams.nbIngest(input.toDF().toDF("id", "text", "pos"),
      col("text"), col("pos"), dir, ckpt)
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val (llrS, scS) = Streams.nbModelFromStore(spark, dir)
    val (llrF, scF) = graft.operators.Classify.nbModel(
      (b1 ++ b2).toDF("id", "text", "pos"), $"text", $"pos")
    assert(llrS.as[(String, Long)].collect().toMap ===
      llrF.as[(String, Long)].collect().toMap)
    assert(scS.as[(Long, Long)].head() === scF.as[(Long, Long)].head())
    // replay the LAST batch id against a state whose marker vanished —
    // the in-state __last_batch must refuse the re-merge (the crash
    // window between swap and marker)
    val fsys = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val markers = fsys.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(_.startsWith("_batch_")).sorted
    val lastId = markers.last.stripPrefix("_batch_").toLong
    fsys.delete(new org.apache.hadoop.fs.Path(s"$dir/_batch_$lastId"), false)
    Streams.applyNbBatch(b2.toDF("id", "text", "pos"),
      col("text"), col("pos"), dir, lastId)
    val (llrR, _) = Streams.nbModelFromStore(spark, dir)
    assert(llrR.as[(String, Long)].collect().toMap ===
      llrF.as[(String, Long)].collect().toMap, "replayed batch must not re-merge")
  }

  test("nbStoreReady/nbModelFromStore: mid-swap readers use the __old copy, never heal") {
    val dir = tempDir("graft_nbro")
    val b1 = Seq((1L, "good fine", true), (2L, "bad poor", false))
    Streams.applyNbBatch(b1.toDF("id", "text", "pos"), col("text"), col("pos"), dir, 0L)
    // the exact between-renames shape of a LIVE applyNbBatch swap: state
    // vacated to __old, staging not yet renamed in
    val fsys = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stateP = new org.apache.hadoop.fs.Path(s"$dir/state")
    val oldP = new org.apache.hadoop.fs.Path(s"$dir/state__old")
    fsys.rename(stateP, oldP)
    // the gate stream's readiness check must answer from the complete
    // __old copy — a reader that healed here would rename under the
    // writer's feet, aborting its rename-in and resurrecting stale state
    assert(Streams.nbStoreReady(spark, dir),
      "mid-swap store reads as ready from the __old copy")
    assert(!fsys.exists(stateP) && fsys.exists(oldP),
      "readiness check must not mutate the store (healing is writer-only)")
    val (llrS, scS) = Streams.nbModelFromStore(spark, dir)
    val (llrF, scF) = graft.operators.Classify.nbModel(
      b1.toDF("id", "text", "pos"), $"text", $"pos")
    assert(llrS.as[(String, Long)].collect().toMap ===
      llrF.as[(String, Long)].collect().toMap,
      "__old copy serves the pre-batch model")
    assert(scS.as[(Long, Long)].head() === scF.as[(Long, Long)].head())
    assert(!fsys.exists(stateP) && fsys.exists(oldP),
      "model read must not mutate the store either")
  }

  test("applyNbBatch: crash-interrupted state swap heals before the next batch") {
    val dir = tempDir("graft_nbheal")
    val b1 = Seq((1L, "good fine", true), (2L, "bad poor", false))
    val b2 = Seq((3L, "fine good good", true), (4L, "poor", false))
    Streams.applyNbBatch(b1.toDF("id", "text", "pos"), col("text"), col("pos"), dir, 0L)
    // simulate a crash mid-swap of batch 1: state renamed out to __old,
    // staging never renamed in, marker never written — the on-disk shape
    // between the two renames
    val fsys = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.rename(new org.apache.hadoop.fs.Path(s"$dir/state"),
      new org.apache.hadoop.fs.Path(s"$dir/state__old"))
    // orphaned staging from the doomed attempt
    fsys.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/state__staging_1/counts"))
    // replayed batch 1 must heal (restore __old), drop the orphan, and
    // apply cleanly — end state == applying b1 then b2 on a clean store
    Streams.applyNbBatch(b2.toDF("id", "text", "pos"), col("text"), col("pos"), dir, 1L)
    val (llrS, scS) = Streams.nbModelFromStore(spark, dir)
    val (llrF, scF) = graft.operators.Classify.nbModel(
      (b1 ++ b2).toDF("id", "text", "pos"), $"text", $"pos")
    assert(llrS.as[(String, Long)].collect().toMap ===
      llrF.as[(String, Long)].collect().toMap)
    assert(scS.as[(Long, Long)].head() === scF.as[(Long, Long)].head())
    assert(!fsys.exists(new org.apache.hadoop.fs.Path(s"$dir/state__old")))
    assert(!fsys.exists(new org.apache.hadoop.fs.Path(s"$dir/state__staging_1")))
  }

  test("quantileSketchIngest: streamed sample == batch quantileSketch over the union") {
    val dir = tempDir("graft_qsketch") + "/state"
    val ckpt = tempDir("graft_qsketch_ck")
    val b1 = (1L to 400L).map(i => (i, (i % 97).toDouble))
    val b2 = (401L to 900L).map(i => (i, (i % 89).toDouble))
    val input = MemoryStream[(Long, Double)]
    val q = Streams.quantileSketchIngest(input.toDF().toDF("id", "v"),
      col("id"), col("v"), dir, ckpt, k = 64)
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val streamed = Streams.quantileFromSketchStore(spark, dir,
      probs = Seq(0.25, 0.5, 0.75)).as[(Double, Double)].collect().toSeq
    val batch = graft.operators.Sketches.quantileSketch(
      (b1 ++ b2).toDF("id", "v"), $"id", $"v",
      probs = Seq(0.25, 0.5, 0.75), k = 64)
      .select($"q", $"estimate").as[(Double, Double)].collect().toSeq
    assert(streamed === batch,
      "mergeable bottom-k: stream-maintained sample must equal the batch sketch")
    // state never exceeds k rows — the bounded-state property
    assert(spark.read.parquet(dir).count() <= 64L)
  }

  test("funnelIngest: stream ≡ batch funnel incl. out-of-order step 1; junk evicted below watermark") {
    val dir = tempDir("graft_funnel") + "/state"
    val ckpt = tempDir("graft_funnel_ck")
    def h(hh: Double): Timestamp = new Timestamp(1700000000000L + (hh * 3600000L).toLong)
    // u1 completes; u2's first view arrives LATE (batch 2) and must
    // re-validate the click that preceded it in arrival order; u3's
    // click misses the window; u4 never views (junk, evictable)
    val b1 = Seq((1L, "view", h(0)), (1L, "click", h(1)),
      (2L, "click", h(0.5)), (4L, "click", h(0.3)))
    val b2 = Seq((2L, "view", h(0.2)), (1L, "purchase", h(1.5)),
      (2L, "purchase", h(3.0)))
    val b3 = Seq((3L, "view", h(10)), (3L, "click", h(13)),
      (1L, "click", h(1))) // duplicate delivery
    val input = MemoryStream[(Long, String, Timestamp)]
    val q = Streams.funnelIngest(
      input.toDF().toDF("user_id", "event_type", "ts"), dir, ckpt,
      winExpr = "INTERVAL 2 HOURS", horizonExpr = "INTERVAL 6 HOURS")
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      input.addData(b3); q.processAllAvailable()
    } finally q.stop()
    val streamed = Streams.funnelFromStore(spark, dir,
        winExpr = "INTERVAL 2 HOURS")
      .as[(Int, String, Long)].collect().toSeq
    val batch = graft.operators.Analytics.funnel(
      (b1 ++ b2 ++ b3).toDF("user_id", "event_type", "ts"),
      "view", "click", "purchase", "INTERVAL 2 HOURS")
      .as[(Int, String, Long)].collect().toSeq
    assert(streamed === batch, "retained state must replay the batch funnel")
    assert(streamed === Seq((1, "view", 3L), (2, "click", 2L), (3, "purchase", 1L)))
    // compaction: u4's orphan click sits below the watermark (max 13 h −
    // 6 h) with no step-1 window to live in — gone; u1's in-window
    // events and u3's above-watermark click survive
    val state = spark.read.parquet(dir)
      .as[(Long, String, Timestamp)].collect().toSeq
    assert(!state.exists(_._1 == 4L), "finalized junk must be evicted")
    assert(state.exists(r => r._1 == 1L && r._2 == "purchase"))
    assert(state.exists(r => r._1 == 3L && r._2 == "click"))
  }

  test("weightedSampleIngest: streamed sample == batch weightedGroupSample over the union") {
    val dir = tempDir("graft_wsample") + "/state"
    val ckpt = tempDir("graft_wsample_ck")
    // heavy ids (w=50) sprinkled among light ones (w=1), split across
    // batches so the merge has to displace earlier light winners
    val b1 = (1L to 300L).map(i => (i, if (i % 50 == 0) 50.0 else 1.0))
    val b2 = (301L to 700L).map(i => (i, if (i % 50 == 0) 50.0 else 1.0)) ++
      Seq((900L, 0.0), (901L, -3.0)) // excluded: zero/negative weight
    val input = MemoryStream[(Long, Double)]
    val q = Streams.weightedSampleIngest(input.toDF().toDF("id", "w"),
      col("id"), col("w"), dir, ckpt, n = 32)
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val streamed = Streams.weightedSampleFromStore(spark, dir)
      .select("id").as[String].collect().toSeq
    assert(streamed.length === 32)
    // batch face over the union (single group): same ids, same order
    val batch = graft.operators.Etl.weightedGroupSample(
      (b1 ++ b2).toDF("id", "w"), lit(1), $"id", $"w", n = 32)
      .orderBy("rank").select("doc_id").as[Long].collect().toSeq
    assert(streamed.map(_.toLong) === batch,
      "stream-maintained E-S bottom-k must equal the batch weighted sample")
    // weight proportionality survives the merge: the 14 heavy ids carry
    // ~half the total weight mass, so nearly all belong in the sample
    val heavy = streamed.map(_.toLong).count(_ % 50 == 0)
    assert(heavy >= 11, s"expected most of the 14 heavy ids sampled, got $heavy")
    assert(!streamed.exists(id => id == "900" || id == "901"))
  }

  test("kmvSketchIngest: streamed estimate == batch kmvDistinct; replay is a no-op") {
    val dir = tempDir("graft_kmv") + "/state"
    val ckpt = tempDir("graft_kmv_ck")
    val b1 = (1L to 300L).map(i => i % 213) // duplicates on purpose
    val b2 = (1L to 500L).map(i => i % 377)
    val input = MemoryStream[Long]
    val q = Streams.kmvSketchIngest(input.toDF().toDF("v"),
      col("v"), dir, ckpt, k = 128)
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val streamed = Streams.kmvFromSketchStore(spark, dir, k = 128)
      .select($"estimate").as[Double].head()
    val batch = graft.operators.Sketches.kmvDistinct(
      (b1 ++ b2).toDF("v"), $"v", k = 128)
      .select($"estimate").as[Double].head()
    assert(streamed === batch)
    // replay the SAME rows under a fresh batch id, markers out of the
    // way: the __id dedup makes the merge idempotent — state unchanged
    val before = spark.read.parquet(dir).orderBy("__u")
      .as[(String, Double, Option[Double])].collect().toSeq
    val replay = b1.toDF("v").select(col("v").cast("string").as("__id"))
      .withColumn("__u", graft.functions.HashFunctions.md5UniformOpen(col("__id")))
      .withColumn("__v", lit(null).cast("double"))
    Streams.applySketchBatch(replay, dir, batchId = 999L, k = 128)
    val after = spark.read.parquet(dir).orderBy("__u")
      .as[(String, Double, Option[Double])].collect().toSeq
    assert(after === before, "re-merging already-seen values must not move the state")
  }
}
