package graftbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.{Serving, ServingHttp, Tables}
import graft.operators.Retrieval

/** `serve_search`: a closed loop of two client connections over real
  * HTTP into [[ServingHttp]]; one op is one `/api/search` request. The clients stand for the reference's UI users,
  * who each wait for their results. A request that fails its check counts
  * as failed and stays out of the latency sample. */
object ServeSearch {

  /** Client connections of the timed window. Each request plans on its
    * client's thread and runs its Spark jobs on the `local[4]` executor,
    * so two keep about half the cores busy. Four kept them near full, and
    * a slower host then also lengthened every request's wait for a core:
    * in runs alternated on the same seeds in a slow stretch, four
    * clients' latencies were 17 to 34 % above their quiet medians, two
    * clients' at most 17 % (see STEADINESS.md). The untimed rounds use a
    * connection per core. */
  val Clients = 2

  /** The timed window ends at a block boundary after `run_seconds`, and
    * not before two whole blocks (52 requests). A window that ended at
    * the deadline ended somewhere in the second block, at a point that
    * moved with the speed of the box, so it held a different count of
    * each mode from run to run, and its p95 followed which slow modes had
    * made it in. Whole blocks hold every mode in its weight, whatever the
    * speed. */
  val MinBlocks = 2

  /** Ranking column per mode: results must come back in non-increasing
    * order of it. mmr orders by its diversified selection, not by a
    * score, so it has none. */
  val RankKey: Map[String, String] = Map(
    "whole" -> "score", "segment" -> "avg_sim", "hybrid" -> "hybrid_score",
    "tags" -> "best_conf", "lexical" -> "score", "rrf" -> "rrf_score",
    "maxsim" -> "score", "fuzzy" -> "score", "mlt" -> "score", "graph" -> "score")

  final case class Op(i: Int, mode: String, startNs: Long, endNs: Long, status: Int, ok: Boolean,
      detail: String = "") {
    def latencyS: Double = (endNs - startNs) / 1e9
  }

  def post(port: Int, json: String): (Int, String) = {
    val c = new URI(s"http://127.0.0.1:$port/api/search").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    c.setRequestProperty("Content-Type", "application/json")
    val out = c.getOutputStream
    try out.write(json.getBytes(StandardCharsets.UTF_8)) finally out.close()
    val status = c.getResponseCode
    val in = if (status >= 400) c.getErrorStream else c.getInputStream
    try (status, new String(in.readAllBytes(), StandardCharsets.UTF_8)) finally in.close()
  }

  /** The results array of a well-formed 200 response, or None. */
  def results(mode: String, status: Int, body: String): Option[List[JValue]] =
    if (status != 200) None
    else scala.util.Try(JsonMethods.parse(body)).toOption.flatMap { j =>
      (j \ "mode", j \ "results") match {
        case (JString(`mode`), JArray(rows)) if rows.nonEmpty && ordered(mode, rows) => Some(rows)
        case _ => None
      }
    }

  /** Rows are in non-increasing order of the mode's rank key. */
  def ordered(mode: String, rows: List[JValue]): Boolean =
    RankKey.get(mode).forall { key =>
      val vs = rows.map(r => r \ key match {
        case JDouble(d) => Some(d)
        case JDecimal(d) => Some(d.toDouble)
        case JLong(l) => Some(l.toDouble)
        case JInt(i) => Some(i.toDouble)
        case _ => None
      })
      vs.forall(_.isDefined) && vs.flatten.sliding(2).forall {
        case Seq(a, b) => a >= b
        case _ => true
      }
    }

  def corpus(c: Ctx): Gen.Corpus = {
    val s = c.spark
    val emb = Tables.embeddings(s, c.data)
    val vectors = emb.count().toInt
    val docs = Tables.documents(s, c.data).count().toInt
    val vocab = Tables.documents(s, c.data)
      .select(explode(split(col("text"), " ")).as("w")).filter(length(col("w")) > 0)
      .distinct().collect().map(_.getString(0)).sorted.toIndexedSeq
    val tags = emb.select(col("label")).distinct().collect()
      .map(r => "lbl_" + r.get(0)).sorted.toIndexedSeq
    Gen.Corpus(vectors / Retrieval.SegsPerImage, vectors, docs, vocab, tags)
  }

  /** What a closed loop did: every op it ran and its window. */
  final case class Loop(ops: Seq[Op], win: Window, openedAtMs: Long)

  /** Closed loop: `clients` threads take the next op of `ops` and wait
    * for its answer. No op is taken from the first index that is a
    * multiple of `block`, at least `minOps` and reached after `seconds`
    * (or from the end of `ops`), so the loop runs the ops before that
    * index and no others. Wall and CPU time are read when the last of
    * them is answered. */
  def closedLoop(c: Ctx, ops: IndexedSeq[(String, String)], next: AtomicInteger,
      clients: Int, seconds: Double, block: Int = 1, minOps: Int = 0)(
      send: (Int, String, String) => Op): Loop = {
    val done = new ConcurrentLinkedQueue[Op]()
    val latch = new CountDownLatch(clients)
    val w = Window.open(c)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var stopped = false
    def take(): Option[Int] = next.synchronized {
      val i = next.get()
      stopped = stopped || i >= ops.size ||
        (i % block == 0 && i >= minOps && System.nanoTime() >= deadline)
      if (stopped) None else Some(next.getAndIncrement())
    }
    (0 until clients).foreach { t =>
      val th = new Thread(() => {
        try Iterator.continually(take()).takeWhile(_.isDefined).flatten
          .foreach(i => done.add(send(i, ops(i)._1, ops(i)._2)))
        finally latch.countDown()
      }, s"graftbench-client-$t")
      th.setDaemon(true)
      th.start()
    }
    latch.await()
    Loop(done.asScala.toSeq, w.close(), w.openedAtMs)
  }

  def run(c: Ctx): Result = {
    val s = c.spark
    val clients = math.min(Clients, c.cores)
    val srv = ServingHttp.start(s, c.data, 0)
    val port = srv.getAddress.getPort
    def send(i: Int, mode: String, body: String): Op = {
      val t0 = System.nanoTime()
      val (status, out) =
        try post(port, body) catch { case NonFatal(e) => (-1, String.valueOf(e.getMessage)) }
      val t1 = System.nanoTime()
      val ok = results(mode, status, out).isDefined
      Op(i, mode, t0, t1, status, ok, if (ok) "" else body + " -> " + out.take(400))
    }
    // set-up: the first request of each mode builds that mode's per-JVM
    // indexes. Builds that do not depend on each other run side by side,
    // next to the scan of the corpus key spaces the load generator draws
    // from; fuzzy, mlt and rrf wait for the lexical index
    val t0Ns = System.nanoTime()
    val ec = scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newCachedThreadPool((r: Runnable) => {
        val t = new Thread(r, "graftbench-setup"); t.setDaemon(true); t
      }))
    def lane(modes: Seq[String]): scala.concurrent.Future[Seq[Op]] =
      scala.concurrent.Future(modes.map(m => send(-1, m, Gen.first(m))))(ec)
    def await[T](f: scala.concurrent.Future[T]): T =
      scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)
    val corpF = scala.concurrent.Future(corpus(c))(ec)
    val lexical = lane(Seq("lexical"))
    val others = Seq(lane(Seq("graph")), lane(Seq("whole", "hybrid", "segment", "maxsim", "tags", "mmr")))
    val afterLexical = { await(lexical); Seq("fuzzy", "mlt", "rrf").map(m => lane(Seq(m))) }
    val built = (Seq(lexical) ++ others ++ afterLexical).flatMap(await)
    val corp = await(corpF)
    val builtAt = (System.currentTimeMillis() - c.launchMs) / 1000.0
    // warm-up: one concurrent round over every mode. Spark compiles
    // generated code for each new plan, so the JIT never goes fully quiet
    // here; what is left of it shows as jvm.jit_ms_timed
    val warm = closedLoop(c, Gen.everyMode(c.seed * 1000003L, 1, corp),
      new AtomicInteger(0), c.cores, 3600)(send).ops
    val bad = (built ++ warm).filterNot(_.ok)
    require(bad.isEmpty, s"warm-up requests failed: ${bad.map(o => s"${o.status} ${o.detail}").mkString("\n")}")

    val ops = Gen.serveOps(c.seed, 200000, corp)
    val next = new AtomicInteger(0)
    val loop = closedLoop(c, ops, next, clients, c.seconds, Gen.BlockSize, MinBlocks * Gen.BlockSize)(send)
    val (timed, win) = (loop.ops, loop.win)
    val heap = Jvm.liveHeapMb
    val good = timed.filter(_.ok)
    val e2e = Metrics.e2e(c, loop.openedAtMs, win, good.size, good.map(_.latencyS), heap)
    val sorted = good.map(_.latencyS).toIndexedSeq.sorted
    val p50 = Stats.percentile(sorted, 0.5)
    val p95 = Stats.percentile(sorted, 0.95)
    val perMode = good.groupBy(_.mode).map { case (m, os) =>
      m -> Map("n" -> os.size, "median_s" -> Stats.median(os.map(_.latencyS)))
    }

    val layers = if (!c.trace) Map.empty[String, Double] else traced(c, port, ops, next,
      clients, win, good.size, timed.count(_.status == 503).toDouble / math.max(1, timed.size))

    // fixed validation set, compared by fingerprint with the stored values
    val expectFile = c.expectedFile("serve_search")
    val vset = Gen.validationSet(corp)
    val fps = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    closedLoop(c, vset, new AtomicInteger(0), c.cores, 3600) { (i, mode, body) =>
      val (status, out) = post(port, body)
      fps.put(i, results(mode, status, out)
        .map(rows => Fingerprint.ofCanon(rows.map(Fingerprint.canonJson)).hex).getOrElse("invalid"))
      Op(i, mode, 0L, 0L, status, ok = true)
    }
    val got = vset.indices.map(i => s"$i:${vset(i)._1}" -> fps.get(i))
    srv.stop(0)
    if (c.record) Json.write(expectFile.getPath, Json.of(got.toMap))
    val expected = Json.read(expectFile) match {
      case JObject(fs) => fs.collect { case (k, JString(v)) => k -> v }.toMap
      case _ => Map.empty[String, String]
    }
    val mismatched = got.filter { case (k, v) => !expected.get(k).contains(v) }.map(_._1)

    Result(e2e, layers, attempted = timed.size + got.size,
      failed = timed.count(!_.ok) + mismatched.size,
      info = Map("clients" -> clients, "ops_timed" -> timed.size, "builds_done_s" -> builtAt,
        "window_jit_ms" -> win.jitMs, "window_gc_ms" -> win.gcMs,
        "latency_samples" -> sorted.size, "samples_beyond_p95" -> Stats.beyond(sorted.size, 0.95),
        "p50_band" -> bandAt(good, p50), "p95_band" -> bandAt(good, p95),
        "per_mode" -> perMode, "validation_mismatches" -> mismatched,
        "latencies_s" -> good.sortBy(_.i).map(o => Seq(o.mode, o.latencyS)),
        "build_s" -> built.map(o => o.mode -> Map("start" -> (o.startNs - t0Ns) / 1e9, "s" -> o.latencyS)).toMap,
        "shed_503" -> timed.count(_.status == 503)))
  }

  /** The band of the mode whose op sits at a percentile value. */
  private def bandAt(ops: Seq[Op], v: Double): String =
    ops.find(_.latencyS == v).map(o => Gen.bandOf(o.mode)).getOrElse("?")

  /** The traced window: each op goes over HTTP, then is replayed
    * in-process under its own job group with spans around each layer. */
  private def traced(c: Ctx, port: Int, ops: IndexedSeq[(String, String)], next: AtomicInteger,
      clients: Int, timedWin: Window, timedOps: Long, shedRatio: Double): Map[String, Double] = {
    val s = c.spark
    val spans = new Spans
    val listener = new LayerListener
    s.sparkContext.addSparkListener(listener)
    val rows = new ConcurrentLinkedQueue[(String, Double, Double, OpCounters)]()
    def send(i: Int, mode: String, body: String): Op = {
      val t0 = System.nanoTime()
      val (status, out) =
        try post(port, body) catch { case NonFatal(e) => (-1, String.valueOf(e.getMessage)) }
      val t1 = System.nanoTime()
      val root = spans.add("http.request", i, 0, t0, t1)
      val group = LayerListener.Prefix + i
      s.sparkContext.setJobGroup(group, mode, interruptOnCancel = false)
      val r0 = System.nanoTime()
      try {
        spans.time("serving.handle", i, root) { h =>
          val req = spans.time("serving.parse", i, h)(_ => Serving.parseRequest(body))
          val df = spans.time("retrieval.run", i, h)(_ => Retrieval.run(s, c.data, req))
          val ds = df.toJSON
          spans.time("catalyst", i, h)(_ => ds.queryExecution.executedPlan)
          val got = spans.time("spark.exec", i, h)(_ => ds.collect())
          spans.time("serving.serialize", i, h)(_ =>
            s"""{"mode":"${req.mode}","top_k":${req.k},"results":[${got.mkString(",")}]}""")
        }
      } finally s.sparkContext.clearJobGroup()
      val inProcMs = (System.nanoTime() - r0) / 1e6
      org.apache.spark.GraftBenchBus.drain(s.sparkContext)
      rows.add((Gen.bandOf(mode), (t1 - t0) / 1e6 - inProcMs, inProcMs, listener.take(group)))
      val t2 = System.nanoTime()
      Op(i, mode, t0, t2, status, results(mode, status, out).isDefined)
    }
    val tloop = closedLoop(c, ops, next, clients, c.seconds, Gen.BlockSize, MinBlocks * Gen.BlockSize)(send)
    s.sparkContext.removeSparkListener(listener)
    spans.writeJsonl(c.artifactPrefix + "spans.jsonl")
    val all = rows.asScala.toSeq
    val byName = spans.all.groupBy(_.name)
    def spanMean(name: String, band: Option[String] = None): Double = {
      val ss = byName.getOrElse(name, Nil)
        .filter(sp => band.forall(b => Gen.bandOf(ops(sp.op.toInt)._1) == b))
      Stats.mean(ss.map(sp => (sp.endNs - sp.startNs) / 1e6))
    }
    Metrics.spark(c, all.map(r => (r._1, r._4))) ++
      Metrics.window(timedWin, timedOps, tloop.win, tloop.ops.count(_.ok)) ++ Map(
      "http.overhead_ms" -> Stats.mean(all.map(_._2)),
      "http.shed_ratio" -> shedRatio,
      "serving.parse_ms" -> spanMean("serving.parse"),
      "serving.serialize_ms" -> spanMean("serving.serialize"),
      "retrieval.build_ms.point" -> spanMean("retrieval.run", Some("point")),
      "retrieval.build_ms.scan" -> spanMean("retrieval.run", Some("scan")))
  }
}
