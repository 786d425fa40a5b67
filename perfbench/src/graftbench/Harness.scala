package graftbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** What a workload is given: the session, the data and the run's own
  * directories. */
final case class Ctx(spark: SparkSession, data: String, seed: Long, seconds: Int,
    trace: Boolean, cores: Int, tmpDir: String, scratchDir: String, workDir: String,
    expectedDir: String, record: Boolean, artifactPrefix: String, launchMs: Long) {

  /** Per-JVM caches and scratch frames of the engine, as directories. */
  def graftDirs: Seq[File] =
    Seq(tmpDir, scratchDir).flatMap(d => Option(new File(d).listFiles()).toSeq.flatten)
      .filter(f => f.isDirectory && f.getName.startsWith("graft_"))

  def expectedFile(workload: String): File = new File(expectedDir, s"$workload.json")
}

/** A workload's outcome. `e2e` holds the end-to-end metrics of the timed
  * window, `layers` the per-layer metrics of a traced run. */
final case class Result(e2e: Map[String, Double], layers: Map[String, Double],
    attempted: Long, failed: Long, info: Map[String, Any])

/** Process meters over one timed window. */
final case class Window(wallS: Double, cpuS: Double, gcMs: Double, jitMs: Double,
    maxPauseMs: Double, dirsAtOpen: Int, dirsAtClose: Int, scratchMb: Double)

object Window {
  final class Open(ctx: Ctx) {
    private val t0 = System.nanoTime()
    private val cpu0 = Jvm.cpuNs
    private val gc0 = Jvm.gcMs
    private val jit0 = Jvm.jitMs
    private val dirs0 = ctx.graftDirs.size
    Jvm.resetMaxPause()
    val openedAtMs: Long = System.currentTimeMillis()

    /** Close the window now (CPU and wall are read here). */
    def close(): Window = {
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (Jvm.cpuNs - cpu0) / 1e9
      val dirs = ctx.graftDirs
      Window(wall, cpu, (Jvm.gcMs - gc0).toDouble, (Jvm.jitMs - jit0).toDouble,
        Jvm.maxPauseMs.toDouble, dirs0, dirs.size, dirs.map(Json.du).sum / 1048576.0)
    }
  }
  def open(ctx: Ctx): Open = new Open(ctx)
}

/** Metric assembly shared by the workloads. */
object Metrics {

  /** The end-to-end metrics of one timed window. */
  def e2e(ctx: Ctx, openedAtMs: Long, w: Window, ops: Long, latS: Seq[Double],
      heapMb: Double): Map[String, Double] = {
    val sorted = latS.toIndexedSeq.sorted
    Map(
      "setup_s" -> (openedAtMs - ctx.launchMs) / 1000.0,
      "latency_p50_s" -> Stats.hd(sorted, 0.50),
      "latency_p95_s" -> Stats.hd(sorted, 0.95),
      "throughput_ops" -> ops / w.wallS,
      "cpu_s_per_op" -> w.cpuS / ops,
      "live_heap_mb" -> heapMb)
  }

  /** Names of every per-layer metric, in report order. Every workload
    * reports all of them; a layer a workload does not exercise reads 0. */
  val Modules: Seq[String] = Seq("Etl", "Analytics", "Retrieval", "TextAnalysis", "Dedup",
    "Multimodal", "Skew", "Joins", "Pipelines", "Curation", "Lexical", "Sketches",
    "Classify", "GramIndex", "GraphAnalytics")
  val Families: Seq[String] = Seq("lexical", "ivf", "graph")

  val LayerNames: Seq[String] =
    Seq("http.overhead_ms", "http.shed_ratio", "serving.parse_ms", "serving.serialize_ms",
      "retrieval.build_ms.point", "retrieval.build_ms.scan") ++
    Seq("analysis_ms", "optimize_ms", "plan_ms").flatMap(p =>
      Seq(s"catalyst.$p", s"catalyst.$p.point", s"catalyst.$p.scan")) ++
    Seq("jobs_per_op", "stages_per_op", "tasks_per_op", "sched_delay_ms_per_op", "exec_ms",
      "task_cpu_ms_per_op", "task_gc_ms_per_op", "input_bytes_per_op",
      "shuffle_write_bytes_per_op", "spill_bytes_per_op", "busy_ratio").map("spark." + _) ++
    Modules.flatMap(m => Seq(s"batch.$m.s", s"batch.$m.tasks", s"batch.$m.shuffle_bytes")) ++
    Seq("plans.dirs_setup", "plans.dirs_timed", "plans.scratch_mb") ++
    Families.flatMap(f => Seq("append_ms", "delete_ms", "compact_ms", "read_ms", "files",
      "write_amp", "space_amp").map(x => s"index.$f.$x")) ++
    Seq("jvm.gc_pause_ms", "jvm.gc_max_pause_ms", "jvm.jit_ms_timed") ++
    Seq("trace.overhead_ratio", "trace.base_untraced_ops", "trace.base_traced_ops")

  /** Per-op means of the Spark and Catalyst counters, with `.point` and
    * `.scan` splits of the Catalyst phases for ops tagged with a band. */
  def spark(ctx: Ctx, ops: Seq[(String, OpCounters)]): Map[String, Double] = {
    val cs = ops.map(_._2)
    def m(f: OpCounters => Double): Double = Stats.mean(cs.map(f))
    val execMs = cs.map(_.execMs).sum
    val base = Map(
      "spark.jobs_per_op" -> m(_.jobs.toDouble),
      "spark.stages_per_op" -> m(_.stages.toDouble),
      "spark.tasks_per_op" -> m(_.tasks.toDouble),
      "spark.sched_delay_ms_per_op" -> m(_.schedDelayMs),
      "spark.exec_ms" -> m(_.execMs),
      "spark.task_cpu_ms_per_op" -> m(_.cpuMs),
      "spark.task_gc_ms_per_op" -> m(_.gcMs),
      "spark.input_bytes_per_op" -> m(_.inputBytes.toDouble),
      "spark.shuffle_write_bytes_per_op" -> m(_.shuffleWriteBytes.toDouble),
      "spark.spill_bytes_per_op" -> m(_.spillBytes.toDouble),
      "spark.busy_ratio" -> (if (execMs > 0) cs.map(_.runMs).sum / (execMs * ctx.cores) else 0.0),
      "catalyst.analysis_ms" -> m(_.analysisMs),
      "catalyst.optimize_ms" -> m(_.optimizeMs),
      "catalyst.plan_ms" -> m(_.planMs))
    val bands = ops.map(_._1).distinct.filter(b => b == "point" || b == "scan")
    base ++ bands.flatMap { b =>
      val in = ops.filter(_._1 == b).map(_._2)
      Seq(s"catalyst.analysis_ms.$b" -> Stats.mean(in.map(_.analysisMs)),
        s"catalyst.optimize_ms.$b" -> Stats.mean(in.map(_.optimizeMs)),
        s"catalyst.plan_ms.$b" -> Stats.mean(in.map(_.planMs)))
    }
  }

  /** The jvm.* and plans.* metrics of the untraced timed window, and the
    * tracing overhead as traced ÷ untraced throughput. */
  def window(timed: Window, timedOps: Long, traced: Window, tracedOps: Long): Map[String, Double] = {
    val untracedRate = timedOps / timed.wallS
    val tracedRate = tracedOps / traced.wallS
    Map(
      "plans.dirs_setup" -> timed.dirsAtOpen.toDouble,
      "plans.dirs_timed" -> (timed.dirsAtClose - timed.dirsAtOpen).toDouble,
      "plans.scratch_mb" -> timed.scratchMb,
      "jvm.gc_pause_ms" -> timed.gcMs,
      "jvm.gc_max_pause_ms" -> timed.maxPauseMs,
      "jvm.jit_ms_timed" -> timed.jitMs,
      "trace.overhead_ratio" -> tracedRate / untracedRate,
      "trace.base_untraced_ops" -> untracedRate,
      "trace.base_traced_ops" -> tracedRate)
  }

  /** Complete the per-layer set: names a workload did not fill read 0. */
  def complete(layers: Map[String, Double]): Map[String, Double] = {
    val unknown = layers.keySet -- LayerNames
    require(unknown.isEmpty, s"undeclared per-layer metrics: ${unknown.mkString(", ")}")
    LayerNames.map(n => n -> layers.getOrElse(n, 0.0)).toMap
  }
}

/** Minimal JSON writing and file helpers. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def of(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => of(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + of(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(of).mkString("[", ",", "]")
    case p: Product => of(p.productElementNames.zip(p.productIterator).toSeq.toMap)
    case other => str(other.toString)
  }

  def write(path: String, text: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.println(text) finally w.close()
  }

  def read(f: File): org.json4s.JValue =
    org.json4s.jackson.JsonMethods.parse(
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))

  /** Bytes under a path. */
  def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(du).sum else f.length()

  def files(f: File): Int =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(files).sum else 1
}

object Main {

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  def main(args: Array[String]): Unit =
    try runMain(args)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        // Spark and the HTTP server hold non-daemon threads
        sys.exit(1)
    }

  private def runMain(args: Array[String]): Unit = {
    def need(n: String) = arg(args, n).getOrElse(sys.error(s"missing $n"))
    val workload = need("--workload")
    val cores = need("--cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", need("--spark-local"))
      .config("spark.graft.scratch.dir", need("--scratch"))
      .config("spark.sql.warehouse.dir", new File(need("--workdir"), "warehouse").getPath)
      // ServingBench's and SearchCli --serve's serving profile; the batch
      // workloads keep graft.Bench's FIFO default
      .config("spark.scheduler.mode", if (workload == "serve_search") "FAIR" else "FIFO")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = Ctx(spark, need("--data"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", cores, need("--tmpdir"), need("--scratch"), need("--workdir"),
      need("--expected"), arg(args, "--record").contains("1"), need("--artifacts"),
      need("--launch-ms").toLong)
    val res = workload match {
      case "serve_search" => ServeSearch.run(ctx)
      case "batch_suite" => BatchSuite.run(ctx)
      case other => sys.error(s"unknown workload '$other'")
    }
    val out = Map(
      "attempted" -> res.attempted,
      "failed" -> res.failed,
      "e2e" -> res.e2e,
      "layers" -> (if (ctx.trace) Metrics.complete(res.layers) else Map.empty[String, Double]),
      "info" -> (res.info ++ Map(
        "java_version" -> System.getProperty("java.version"),
        "spark_version" -> spark.version,
        "master" -> s"local[$cores]",
        "shuffle_partitions" -> cores,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "result_s" -> (System.currentTimeMillis() - ctx.launchMs) / 1000.0)))
    Json.write(need("--out"), Json.of(out))
    // the run's directories go with the caller's cleanup, so the JVM ends
    // here without stopping Spark or running its shutdown hooks
    Runtime.getRuntime.halt(0)
  }
}
