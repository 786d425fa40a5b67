package graftbench

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.json4s._

import graft.SparkEntry
import graft.operators._

/** `batch_suite`: passes of four clients side by side. The query client
  * runs a fixed list of [[SparkEntry.queries]] into the `noop` sink, as
  * `graft.Bench` does; three index clients each run one churn cycle over
  * a private at-rest index of their own family ([[IndexChurn]]). One op
  * is one query, or one index append, delete, read or compaction. The
  * timed window holds whole passes, so every window has the same op mix;
  * a pass's wall time is the latency sample. */
object BatchSuite {

  /** One query for each of the 15 operator modules, none of them in
    * `graft.Bench`'s unbenched set. */
  val Suite: Seq[String] = Seq("etl_cell_cleanse", "agg_topn", "knn_whole", "txt_tokencount",
    "dedup_exact", "mm_chunk", "agg_salted_count", "join_range", "pipeline_curate_incr",
    "mix_source_cap", "search_phrase", "agg_group_quantile", "quality_nb",
    "eval_memorization_idx", "graph_density")

  /** Operator module of each named query, by the module's own query map. */
  val ModuleOf: Map[String, String] = Seq(
    "Etl" -> Etl.queries, "Analytics" -> Analytics.queries, "Retrieval" -> Retrieval.queries,
    "TextAnalysis" -> TextAnalysis.queries, "Dedup" -> Dedup.queries,
    "Multimodal" -> Multimodal.queries, "Skew" -> Skew.queries, "Joins" -> Joins.queries,
    "Pipelines" -> Pipelines.queries, "Curation" -> Curation.queries,
    "Lexical" -> Lexical.queries, "Sketches" -> Sketches.queries,
    "Classify" -> Classify.queries, "GramIndex" -> GramIndex.queries,
    "GraphAnalytics" -> GraphAnalytics.queries).flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap

  /** One op: `kind` is `query` (and `name` the query) or an index op
    * (and `name` the family). */
  final case class Op(kind: String, name: String, startNs: Long, endNs: Long, ok: Boolean) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  /** Runs one op: (kind, name, the index dir an index write changes,
    * body returning whether the op's output passed its check). */
  type Exec = (String, String, Option[String], () => Boolean) => Op

  val plain: Exec = (kind, name, _, body) => {
    val t0 = System.nanoTime()
    val ok = try body() catch { case NonFatal(e) => System.err.println(s"$kind $name failed: $e"); false }
    Op(kind, name, t0, System.nanoTime(), ok)
  }

  /** The index clients' own threads, one per family. */
  private lazy val indexClients = Seq.tabulate(3) { i =>
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newSingleThreadExecutor((r: Runnable) => {
        val t = new Thread(r, s"graftbench-index-client-$i"); t.setDaemon(true); t
      }))
  }

  /** One pass: the query client runs every query of the suite while the
    * three index clients each run one family's churn cycle beside it.
    * Returns the ops and the pass's wall time, until all four are done. */
  private def pass(c: Ctx, idx: IndexChurn.State, exec: Exec): (Seq[Op], Double) = {
    val t0 = System.nanoTime()
    val churn = idx.churn.cycle(exec, indexClients)
    val queries = Suite.map { q =>
      exec("query", q, None, () => {
        SparkEntry.queries(q)(c.spark, c.data).write.format("noop").mode("overwrite").save()
        true
      })
    }
    val ops = queries ++ await(churn)
    // graft.Bench's hygiene between reps: frames the queries persisted do
    // not outlive the pass. Not between queries: the index clients'
    // frames, which graph builds checkpoint, must not be dropped mid-op
    c.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    (ops, (System.nanoTime() - t0) / 1e9)
  }

  private def await[T](f: scala.concurrent.Future[T]): T =
    scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)

  /** Whole passes until at least `seconds` have gone by. */
  private def window(c: Ctx, idx: IndexChurn.State, exec: Exec): (Seq[(Seq[Op], Double)], Window, Long) = {
    val w = Window.open(c)
    val t0 = System.nanoTime()
    val passes = scala.collection.mutable.ArrayBuffer.empty[(Seq[Op], Double)]
    while (passes.isEmpty || System.nanoTime() - t0 < c.seconds * 1e9) passes += pass(c, idx, exec)
    (passes.toSeq, w.close(), w.openedAtMs)
  }

  /** Fingerprints of every query's sf0.1 output. */
  private def fingerprints(c: Ctx, ec: scala.concurrent.ExecutionContext): Seq[scala.concurrent.Future[(String, String)]] =
    Suite.map { q =>
      scala.concurrent.Future {
        val fp = scala.util.Try(Fingerprint.ofFrame(SparkEntry.queries(q)(c.spark, c.data)))
        q -> fp.map(_.hex).getOrElse("failed: " + fp.failed.get)
      }(ec)
    }

  def run(c: Ctx): Result = {
    val unknown = Suite.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"queries not in SparkEntry.queries: ${unknown.mkString(", ")}")
    val modules = Suite.map(ModuleOf).toSet
    require(modules.size == Metrics.Modules.size, s"modules covered: ${modules.toSeq.sorted}")

    // set-up. The output check runs once per run, outside the timed
    // window: it also builds every per-JVM memo and index the queries
    // use, and is their warm-up. A cold first run is mostly driver work
    // (planning, code generation, class loading), so three queries run
    // at a time, beside the build and warm-up of the private indexes.
    // Frames the queries persisted are dropped only when both are done:
    // the index builds checkpoint frames of their own
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
    // the index lane takes one thread, the queries the other three
    val idxF = scala.concurrent.Future(IndexChurn.prepare(c))(ec)
    val got = fingerprints(c, ec).map(await)
    val idx = await(idxF)
    pool.shutdown()
    c.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val checkedAt = (System.currentTimeMillis() - c.launchMs) / 1000.0
    val expectFile = c.expectedFile("batch_suite")
    if (c.record) Json.write(expectFile.getPath, Json.of(got.toMap))
    val expected = Json.read(expectFile) match {
      case JObject(fs) => fs.collect { case (k, JString(v)) => k -> v }.toMap
      case _ => Map.empty[String, String]
    }
    val mismatched = got.filter { case (q, fp) => !expected.get(q).contains(fp) }.map(_._1)

    val (passes, win, openedAt) = window(c, idx, plain)
    val heap = Jvm.liveHeapMb
    val ops = passes.flatMap(_._1)
    val e2e = Metrics.e2e(c, openedAt, win, ops.size, passes.map(_._2), heap)
    val layers = if (!c.trace) Map.empty[String, Double] else traced(c, idx, win, ops.size)
    val rebuild = IndexChurn.rebuildMismatches(idx)
    Result(e2e, layers, attempted = ops.size + got.size + idx.churn.fams.size,
      failed = ops.count(!_.ok) + mismatched.size + rebuild.size,
      info = Map("passes" -> passes.size, "ops_timed" -> ops.size, "check_done_s" -> checkedAt,

        "window_end_s" -> ((openedAt - c.launchMs) / 1000.0 + win.wallS),
        "window_jit_ms" -> win.jitMs, "window_gc_ms" -> win.gcMs,
        "fingerprint_mismatches" -> mismatched, "rebuild_mismatches" -> rebuild,
        "failed_ops" -> ops.filterNot(_.ok).map(o => s"${o.kind} ${o.name}"),
        "per_op_median_s" -> ops.groupBy(o => if (o.kind == "query") o.name else s"${o.kind}.${o.name}")
          .map { case (k, os) => k -> Stats.median(os.map(_.seconds)) }))
  }

  /** The traced window: each op under its own job group, with the bytes
    * each index write leaves in its family's directory. */
  private def traced(c: Ctx, idx: IndexChurn.State, timedWin: Window, timedOps: Long): Map[String, Double] = {
    val s = c.spark
    val spans = new Spans
    val listener = new LayerListener
    s.sparkContext.addSparkListener(listener)
    // the clients call `exec` from their own threads; a job group is a
    // thread-local property, so each op keeps its own
    val n = new java.util.concurrent.atomic.AtomicLong(0)
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Op, OpCounters)]()
    val written = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val appended0 = idx.churn.appendedRows
    val exec: Exec = (kind, name, dir, body) => {
      val id = n.incrementAndGet()
      val group = LayerListener.Prefix + id
      val before = dir.map(IndexChurn.listing)
      s.sparkContext.setJobGroup(group, s"$kind $name", interruptOnCancel = false)
      val op = try plain(kind, name, dir, body) finally s.sparkContext.clearJobGroup()
      dir.foreach(d => written.merge(name, IndexChurn.written(before.get, IndexChurn.listing(d)), (a, b) => a + b))
      spans.add(s"batch.$kind", id, 0, op.startNs, op.endNs)
      org.apache.spark.GraftBenchBus.drain(s.sparkContext)
      rows.add((op, listener.take(group)))
      op
    }
    val (passes, twin, _) = window(c, idx, exec)
    s.sparkContext.removeSparkListener(listener)
    spans.writeJsonl(c.artifactPrefix + "spans.jsonl")
    val ops = passes.flatMap(_._1)
    val all = rows.asScala.toSeq
    val queries = all.filter(_._1.kind == "query")
    val perQuery = queries.groupBy(_._1.name).map { case (q, rs) =>
      q -> Map("module" -> ModuleOf(q), "median_s" -> Stats.median(rs.map(_._1.seconds)),
        "jobs" -> Stats.mean(rs.map(_._2.jobs.toDouble)), "stages" -> Stats.mean(rs.map(_._2.stages.toDouble)),
        "tasks" -> Stats.mean(rs.map(_._2.tasks.toDouble)),
        "shuffle_write_bytes" -> Stats.mean(rs.map(_._2.shuffleWriteBytes.toDouble)),
        "spill_bytes" -> Stats.mean(rs.map(_._2.spillBytes.toDouble)),
        "task_cpu_ms" -> Stats.mean(rs.map(_._2.cpuMs)),
        "analysis_ms" -> Stats.mean(rs.map(_._2.analysisMs)),
        "optimize_ms" -> Stats.mean(rs.map(_._2.optimizeMs)),
        "plan_ms" -> Stats.mean(rs.map(_._2.planMs)))
    }
    Json.write(c.artifactPrefix + "queries.json", Json.of(perQuery))
    val byModule = queries.groupBy(r => ModuleOf(r._1.name)).toSeq.flatMap { case (m, rs) =>
      Seq(s"batch.$m.s" -> rs.map(_._1.seconds).sum / passes.size,
        s"batch.$m.tasks" -> rs.map(_._2.tasks.toDouble).sum / passes.size,
        s"batch.$m.shuffle_bytes" -> rs.map(_._2.shuffleWriteBytes.toDouble).sum / passes.size)
    }
    Metrics.spark(c, all.map(r => (r._1.kind, r._2))) ++
      Metrics.window(timedWin, timedOps, twin, ops.size) ++ byModule ++
      IndexChurn.metrics(idx, ops.filter(_.kind != "query"),
        written.asScala.map { case (k, v) => k -> v.longValue }.toMap, idx.churn.appendedRows - appended0)
  }
}
