package graft

import java.net.{HttpURLConnection, URI}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec
import graft.operators.Retrieval

/** Drives [[ServingHttp]] over REAL sockets: every route's body must be
  * byte-identical to the pure function it wraps, and the status-code /
  * error-envelope mapping must match the reference's `app.py`. */
class ServingHttpSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  private def withServer(f: Int => Unit): Unit = {
    val srv = ServingHttp.start(spark, d, 0) // ephemeral port
    try f(srv.getAddress.getPort)
    finally srv.stop(0)
  }

  private def req(port: Int, method: String, path: String,
      body: Option[Array[Byte]] = None): (Int, String) = {
    val c = new URI(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    body.foreach { b =>
      c.setDoOutput(true)
      val os = c.getOutputStream
      try os.write(b) finally os.close()
    }
    val status = c.getResponseCode
    val in = if (status >= 400) c.getErrorStream else c.getInputStream
    val out = new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    in.close()
    (status, out)
  }

  private def post(port: Int, path: String, json: String): (Int, String) =
    req(port, "POST", path,
      Some(json.getBytes(java.nio.charset.StandardCharsets.UTF_8)))

  test("GET /health answers Serving.health verbatim with 200") {
    withServer { port =>
      val (status, body) = req(port, "GET", "/health")
      assert(status === 200)
      assert(body === Serving.health(spark, d))
      assert(body.contains("\"status\":\"healthy\""))
    }
  }

  test("POST /api/search: body = Serving.handle for the same request") {
    withServer { port =>
      val json = """{"mode":"whole","top_k":3,"query_image_id":1}"""
      val (status, body) = post(port, "/api/search", json)
      assert(status === 200)
      assert(body === Serving.handle(spark, d, json))
      assert(body.contains("\"mode\":\"whole\"") && body.contains("\"results\":["))
    }
  }

  test("POST /search/<mode>: path mode overrides/injects into the body") {
    withServer { port =>
      val (status, body) =
        post(port, "/search/tags", """{"tags":"lbl_2,lbl_4","top_k":4}""")
      assert(status === 200)
      assert(body === Serving.handle(spark, d,
        """{"tags":"lbl_2,lbl_4","top_k":4,"mode":"tags"}"""))
      // empty body is a valid mode-only request on the path routes
      val (s2, b2) = post(port, "/search/whole", "")
      assert(s2 === 200 && b2.contains("\"mode\":\"whole\""))
      // unknown mode path → 404, not a 500
      val (s3, _) = post(port, "/search/nonsense", "{}")
      assert(s3 === 404)
    }
  }

  test("beyond-reference modes are routable over HTTP (r19): body = Serving.handle") {
    withServer { port =>
      // the serving-latency contract is measured per run() mode through
      // this envelope (ServingBench) — every mode must route
      val (s1, b1) = post(port, "/search/lexical",
        """{"terms":"hash,merge","top_k":3}""")
      assert(s1 === 200)
      assert(b1 === Serving.handle(spark, d,
        """{"terms":"hash,merge","top_k":3,"mode":"lexical"}"""))
      val (s2, b2) = post(port, "/api/search",
        """{"mode":"centrality","query_image_id":7}""")
      assert(s2 === 200)
      assert(b2 === Serving.handle(spark, d,
        """{"mode":"centrality","query_image_id":7}"""))
    }
  }

  test("requests that do no Spark work answer below the 40 ms delayed-ACK floor") {
    // the JDK server flushes a response's headers before its body; without
    // no-delay sockets Nagle holds every body for the client's delayed ACK
    withServer { port =>
      val json = """{"mode":"sideways"}"""
      (0 until 3).foreach(_ => post(port, "/api/search", json)) // connect, warm the route
      val ms = (0 until 20).map { _ =>
        val t0 = System.nanoTime()
        val (status, _) = post(port, "/api/search", json)
        assert(status === 400)
        (System.nanoTime() - t0) / 1e6
      }.sorted
      val median = (ms(9) + ms(10)) / 2
      assert(median < 20.0, f"median $median%.1f ms over 20 sequential requests: ${ms.mkString(", ")}")
    }
  }

  test("invalid mode on /api/search → 400 with app.py's exact envelope") {
    withServer { port =>
      val (status, body) = post(port, "/api/search", """{"mode":"sideways"}""")
      assert(status === 400)
      assert(body ===
        """{"error":"Invalid mode. Use: whole, segment, hybrid, or tags"}""")
      val (s2, b2) = post(port, "/api/search", """{"top_k":3}""")
      assert(s2 === 400 && b2 === body, "missing mode takes the same envelope")
    }
  }

  test("engine-rejected request → 400 with handle's error JSON") {
    withServer { port =>
      val (status, body) =
        post(port, "/api/search", """{"mode":"tags","top_k":"three"}""")
      assert(status === 400)
      assert(body.startsWith("""{"error":"""))
    }
  }

  test("malformed body → 400, never 200 with silently-defaulted parameters") {
    withServer { port =>
      // truncated JSON on a path route: discarding it would answer 200
      // with default top_k and the client never learns
      val (s1, b1) = post(port, "/search/whole", """{"top_k": 3""")
      assert(s1 === 400 && b1.startsWith("""{"error":"""), b1)
      // a JSON array is not a request object — on either route
      val (s2, b2) = post(port, "/api/search", """[1,2,3]""")
      assert(s2 === 400 && b2.startsWith("""{"error":"""), b2)
      val (s3, b3) = post(port, "/search/tags", """"just a string"""")
      assert(s3 === 400 && b3.startsWith("""{"error":"""), b3)
    }
  }

  test("engine fault on a valid request → 500 internal-error envelope, not 400") {
    // a server whose data directory vanished after startup: the request
    // is well-formed, the engine faults — a monitor must never be told
    // the client was at fault (app.py:329-331's envelope)
    val gone = tempDir("graft_gone")
    val srv = ServingHttp.start(spark, gone, 0)
    try {
      val (status, body) = post(srv.getAddress.getPort, "/api/search",
        """{"mode":"whole","top_k":3,"query_image_id":1}""")
      assert(status === 500, body)
      assert(body.startsWith("""{"error":"Internal server error","details":"""), body)
    } finally srv.stop(0)
  }

  test("body over 16MB → 413 with app.py's exact envelope") {
    withServer { port =>
      val big = new Array[Byte]((ServingHttp.MaxBody + 2).toInt)
      java.util.Arrays.fill(big, 'x'.toByte)
      val (status, body) = req(port, "POST", "/api/search", Some(big))
      assert(status === 413)
      assert(body === """{"error":"File too large. Max size: 16MB"}""")
    }
  }

  test("concurrent searches don't stall /health; parallel responses ≡ the pure function") {
    // Substantiates the cached-pool rationale at ServingHttp.start: with
    // a NULL executor every handler would run on the single dispatcher
    // thread, so a burst of slow collect()-backed searches would queue
    // /health behind them past any liveness probe. Shape: launch N
    // searches concurrently, then (while they are in flight) demand
    // /health — it must answer BEFORE the search burst drains, and
    // every search must still return the exact pure-function body.
    withServer { port =>
      // hybrid, and 12 of them: the r19 serving rewires made whole mode
      // fast enough (memoized imageVecs) that a 6-request burst drained
      // before /health could answer, flaking the overlap assertion — the
      // heavier mode keeps the burst reliably in flight while /health
      // runs, which is the very situation the test exists to pin
      val json = """{"mode":"hybrid","top_k":3,"query_image_id":1}"""
      val want = Serving.handle(spark, d, json)
      val n = 12
      val results = new java.util.concurrent.ConcurrentHashMap[Int, (Int, String)]()
      val done = new java.util.concurrent.CountDownLatch(n)
      val lastSearchDone = new java.util.concurrent.atomic.AtomicLong(0L)
      (0 until n).foreach { i =>
        new Thread(() => {
          try results.put(i, post(port, "/search/hybrid", json))
          finally {
            lastSearchDone.set(System.nanoTime()); done.countDown()
          }
        }, s"burst-$i").start()
      }
      Thread.sleep(50) // let the burst reach the server first
      val (hs, hb) = req(port, "GET", "/health")
      val healthDone = System.nanoTime()
      assert(hs === 200 && hb.contains("\"status\":\"healthy\""))
      val stillInFlight = done.getCount > 0
      assert(done.await(120, java.util.concurrent.TimeUnit.SECONDS),
        "search burst must drain")
      // health either answered while searches were still in flight, or
      // (if the burst happened to drain first) strictly before the last
      // search finished — both prove it was not queued behind the burst
      assert(stillInFlight || healthDone < lastSearchDone.get,
        "/health must not be serialized behind the search burst")
      (0 until n).foreach { i =>
        val (st, body) = results.get(i)
        assert(st === 200, s"burst request $i: status $st")
        assert(body === want, s"burst request $i drifted from the pure function")
      }
    }
  }

  test("overload sheds immediately with 503 + Retry-After; admitted requests still succeed (r20)") {
    // the SRS availability face: past the admission ceiling a node must
    // fail FAST (503 the balancer can route around), never stretch the
    // queue — the r19 C=128 burst measured 28 s pure-queueing tails
    val srv = ServingHttp.start(spark, d, 0, maxConcurrent = 1)
    try {
      val port = srv.getAddress.getPort
      val n = 12
      case class R(status: Int, retryAfter: Option[String], sec: Double, body: String)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
      val gate = new java.util.concurrent.CountDownLatch(1)
      val futures = (0 until n).map { i =>
        pool.submit(new java.util.concurrent.Callable[R] {
          def call(): R = {
            gate.await()
            val t0 = System.nanoTime()
            val c = new URI(s"http://127.0.0.1:$port/api/search").toURL
              .openConnection().asInstanceOf[HttpURLConnection]
            c.setRequestMethod("POST"); c.setDoOutput(true)
            val os = c.getOutputStream
            try os.write(s"""{"mode":"whole","top_k":3,"query_image_id":$i}"""
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
            finally os.close()
            val status = c.getResponseCode
            val ra = Option(c.getHeaderField("Retry-After"))
            val in = if (status >= 400) c.getErrorStream else c.getInputStream
            val body = new String(in.readAllBytes(),
              java.nio.charset.StandardCharsets.UTF_8)
            in.close()
            R(status, ra, (System.nanoTime() - t0) / 1e9, body)
          }
        })
      }
      gate.countDown()
      val rs = futures.map(_.get())
      pool.shutdown()
      val (ok, shed) = rs.partition(_.status == 200)
      assert(shed.nonEmpty, "12 concurrent requests at capacity 1 must shed load")
      assert(ok.nonEmpty, "admitted requests must still succeed under shedding")
      shed.foreach { r =>
        assert(r.status === 503, s"shed status must be 503, got ${r.status}")
        assert(r.retryAfter.contains("1"), "503 must carry Retry-After: 1")
        assert(r.body.contains("overloaded"))
      }
      // the fail-fast contract: no success waited behind an unbounded queue
      ok.foreach(r => assert(r.sec < 5.0,
        f"a success took ${r.sec}%.1f s — shedding must prevent queue tails"))
      // a VALIDATION failure is a 400 even when the node is at capacity —
      // and /health (exempt by construction) keeps answering
      val (bs, _) = post(port, "/api/search", """{"mode":"nonsense"}""")
      assert(bs === 400)
      val (hs, _) = req(port, "GET", "/health")
      assert(hs === 200)
    } finally srv.stop(0)
  }

  // --- the interpreted serving session ------------------------------------

  /** Request `i` of a mode, with ids and terms that differ per `i`. */
  private def keyed(mode: String, i: Int): String = {
    val terms = Seq(Seq("hash", "merge"), Seq("vector", "stream"), Seq("sort", "window"),
      Seq("scan", "column"), Seq("batch", "spark"))(i % 5)
    val typo = terms.map(t => t.dropRight(1) + "x") // one substitution each
    def arr(ts: Seq[String]) = ts.map(t => s""""$t"""").mkString("[", ",", "]")
    val id = 1 + 7 * i
    mode match {
      case "tags" => s"""{"mode":"tags","top_k":5,"tags":["lbl_${i % 10}","lbl_${(i + 3) % 10}"]}"""
      case "lexical" | "rrf" =>
        s"""{"mode":"$mode","top_k":5,"terms":${arr(terms)},"query_image_id":$id}"""
      case "fuzzy" => s"""{"mode":"fuzzy","top_k":5,"terms":${arr(typo)}}"""
      case m => s"""{"mode":"$m","top_k":5,"query_image_id":$id}"""
    }
  }

  test("serving session: every mode's body equals Retrieval.run collected on the compiled session") {
    withServer { port =>
      for (mode <- ServingHttp.OrderedModes; i <- 0 until 3) {
        val json = keyed(mode, i)
        val (status, body) = post(port, "/api/search", json)
        val r = Serving.parseRequest(json)
        val rows = Retrieval.run(spark, d, r).toJSON.collect()
        val want = s"""{"mode":"$mode","top_k":${r.k},"results":[${rows.mkString(",")}]}"""
        assert(status === 200, body)
        assert(rows.nonEmpty, s"$mode request $i must return rows")
        assert(body === want, s"$mode request $i")
      }
    }
  }

  test("serving session: a warm round of fresh requests compiles no class") {
    // Spark's codegen cache holds 100 classes and the mode mix needs more,
    // so a compiled serving path compiles on every round; the interpreted
    // serving session must compile nothing once the per-JVM builds are done
    val modes = Seq("whole", "tags", "segment", "hybrid", "maxsim", "graph", "lexical")
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    withServer { port =>
      def round(i: Int): Unit = modes.foreach { m =>
        val (status, body) = post(port, "/api/search", keyed(m, i))
        assert(status === 200, s"$m: $body")
      }
      round(3) // warm: per-JVM builds, memos and pools
      val before = compiles.getCount
      round(4)
      assert(compiles.getCount - before === 0L,
        s"a warm round compiled ${compiles.getCount - before} class(es)")
    }
  }

  /** `f`'s value and the Spark jobs launched while it runs in the
    * per-thread pools that [[ServingHttp]]'s handlers run requests in. */
  private def servedJobs[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val marker = s"served-jobs-marker-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(j.properties).flatMap(p => Option(p.getProperty(k)))
        if (prop("spark.jobGroup.id").contains(marker)) drained.countDown()
        else if (prop("spark.scheduler.pool").exists(_.startsWith("graft-serve-")))
          jobs.incrementAndGet()
      }
    }
    sc.addSparkListener(listener)
    try {
      val out = f
      // the listener bus delivers in order: once the marker job's start
      // arrives, every job the requests launched has been counted
      sc.setJobGroup(marker, "listener drain marker")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (out, jobs.get())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("warm requests: graph launches no Spark job, mmr two (query broadcast, pool collect)") {
    // the JSON is written on the driver, so rows already there need no
    // job: graph, whole, tags and the text modes answer from driver-held
    // images; key 8's terms, typos and ids are in no pool cache of this
    // suite (keys 0-2 and 5 fill them), so a cached pool cannot hide a job
    withServer { port =>
      for ((mode, most) <- Seq("graph" -> 0, "whole" -> 0, "tags" -> 0, "lexical" -> 0,
          "fuzzy" -> 0, "mlt" -> 0, "rrf" -> 0, "mmr" -> 2)) {
        assert(post(port, "/api/search", keyed(mode, 5))._1 === 200) // per-JVM builds
        val (body, n) = servedJobs(post(port, "/api/search", keyed(mode, 8))._2)
        assert(body === Serving.handle(spark, d, keyed(mode, 8)))
        assert(n <= most, s"a warm $mode request launched $n Spark job(s)")
      }
    }
  }

  test("serving session: a snapshot of the caller's session, interpreted, leaving the caller's conf alone") {
    val exec = ServingHttp.servingSession(spark)
    assert(!(exec eq spark) && (exec.sparkContext eq spark.sparkContext))
    assert(exec.conf.get("spark.sql.codegen.wholeStage") === "false")
    assert(exec.conf.get("spark.sql.codegen.factoryMode") === "NO_CODEGEN")
    assert(spark.conf.get("spark.sql.codegen.wholeStage") === "true")
    assert(spark.conf.get("spark.sql.codegen.factoryMode") === "FALLBACK")
    assert(exec.conf.get("spark.sql.shuffle.partitions") ===
      spark.conf.get("spark.sql.shuffle.partitions"))
  }
}
