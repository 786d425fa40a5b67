package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{GraftSqlShim, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.operators.Retrieval

/** Request/response boundary for the parameterized search dispatch — the
  * engine-side equivalent of the reference's HTTP endpoints
  * (`/root/reference/app.py:83-321`: per-request form fields `top_k`,
  * `tags`, `whole_weight`, `segment_weight`; response envelope
  * `{"mode": …, "top_k": …, "results": […]}`) and its CLI
  * (`search_with_segments.py:628-709`).
  *
  * graft is a library, not a web app, so the boundary is a pure
  * function: request JSON in → response JSON out, with
  * [[graft.operators.Retrieval.run]] doing the work. Any HTTP server
  * (or queue consumer, or notebook) can wrap [[handle]] without touching
  * engine internals; [[SearchCli]] is the bundled terminal wrapper.
  * Errors come back as `{"error": …}` payloads, matching the
  * reference's error JSON, rather than as exceptions.
  *
  * The reference uploads an image per request and embeds it; this
  * container has no codecs/models (see `MultimodalStub`), so the query
  * image is selected by id (`query_image_id`) — the same "query vectors
  * come from the request" dataflow with the embedding step resolved
  * against the embeddings table.
  *
  * Collecting `results` to the driver is correct HERE and only here:
  * it is the serving edge, the result is ≤ k rows by construction, and
  * everything upstream ran distributed.
  */
object Serving {

  /** Request field names follow the reference's form fields
    * (`app.py:110-111, 208-213`); `tags` accepts a JSON array or the
    * reference's comma-separated string. Unknown fields are ignored;
    * missing fields take [[Retrieval.SearchRequest]] defaults. */
  def parseRequest(json: String): Retrieval.SearchRequest = {
    val fields = JsonMethods.parse(json) match {
      case JObject(fs) => fs.toMap
      case other => throw new IllegalArgumentException(
        s"request must be a JSON object, got ${other.getClass.getSimpleName}")
    }
    def num(name: String): Option[Double] = fields.get(name).map {
      case JInt(i) => i.toDouble
      case JLong(l) => l.toDouble
      case JDouble(d) => d
      case JDecimal(d) => d.toDouble
      case other => throw new IllegalArgumentException(s"'$name' must be a number, got $other")
    }
    def str(name: String): Option[String] = fields.get(name).map {
      case JString(v) => v
      case other => throw new IllegalArgumentException(s"'$name' must be a string, got $other")
    }
    def strList(name: String): Seq[String] = fields.get(name) match {
      case Some(JArray(vs)) => vs.map {
        case JString(v) => v
        case other => throw new IllegalArgumentException(s"$name entries must be strings, got $other")
      }
      case Some(JString(csv)) => // the reference's comma-separated form field
        csv.split(",").map(_.trim).filter(_.nonEmpty).toList
      case Some(other) => throw new IllegalArgumentException(s"'$name' must be array or string, got $other")
      case None => Nil
    }
    val tags = strList("tags")
    val defaults = Retrieval.SearchRequest(mode = "")
    Retrieval.SearchRequest(
      mode = str("mode").getOrElse(
        throw new IllegalArgumentException("missing required field 'mode'")),
      k = num("top_k").map(_.toInt).getOrElse(defaults.k),
      queryImageId = num("query_image_id").map(_.toLong).getOrElse(defaults.queryImageId),
      tags = tags,
      terms = strList("terms"),
      minConf = num("min_conf").getOrElse(defaults.minConf),
      wWhole = num("whole_weight").getOrElse(defaults.wWhole),
      wSeg = num("segment_weight").getOrElse(defaults.wSeg),
      maxSegments = num("max_segments").map(_.toInt).getOrElse(defaults.maxSegments),
      // ES's fuzziness parameter for mode "fuzzy": "1" or "auto" (AUTO's
      // per-term-length 0/1/2 budget); numbers accepted like ES's JSON
      fuzziness = fields.get("fuzziness").map {
        case JString(v) => v.toLowerCase
        case JInt(i) => i.toString
        case JLong(l) => l.toString
        // integral JSON doubles (1.0) normalize like ES's lenient
        // parsing; fractional budgets are nonsense and rejected
        case JDouble(v) if v == math.floor(v) => v.toLong.toString
        case JDecimal(v) if v.isWhole => v.toLong.toString
        case other => throw new IllegalArgumentException(
          s"'fuzziness' must be a string or an integral number, got $other")
      }.getOrElse(defaults.fuzziness))
  }

  /** One request, one JSON response: parse → [[Retrieval.run]] →
    * `{"mode": …, "top_k": …, "results": [row, …]}`. Row objects are
    * written on the driver by Spark's own row→JSON generator, the one
    * `Dataset.toJSON` runs in its tasks (`GraftSqlShim.collectJson`), so
    * column names and values match the named-query surface byte for
    * byte, and a result already on the driver needs no Spark job. Total
    * (never throws) — the body of [[handleWithStatus]] for callers that
    * only want the JSON. */
  def handle(s: SparkSession, d: String, requestJson: String): String =
    handleWithStatus(s, d, requestJson)._2

  /** [[handle]] plus the HTTP status an `app.py`-shaped wrapper must
    * send, distinguishing the two error classes the reference's routes
    * distinguish: a request the engine REJECTED (JSON parse failures,
    * bad field types, unknown mode, out-of-range knobs — everything
    * request-derived raises `IllegalArgumentException`) → 400 with the
    * `{"error": …}` payload; an engine FAULT on a valid request (data
    * dir gone, executor failure mid-collect) → 500 with `app.py:329-331`'s
    * `{"error":"Internal server error","details": …}` envelope — a
    * monitor must never be told a server fault was the client's. */
  def handleWithStatus(s: SparkSession, d: String, requestJson: String)
      : (Int, String) =
    handleWithStatus(s, d, requestJson, s)

  /** [[handleWithStatus]] executing on `exec`. The request's DataFrame
    * is still built on `s`, so the per-JVM index and memo builds inside
    * [[Retrieval.run]] run there; its analyzed plan is then re-bound to
    * `exec` and its rows are collected and written as JSON on it. [[ServingHttp]]
    * passes its interpreted serving session here. */
  def handleWithStatus(s: SparkSession, d: String, requestJson: String,
      exec: SparkSession): (Int, String) = {
    val req =
      try Right(parseRequest(requestJson))
      catch { case NonFatal(e) => Left(errMsg(e)) }
    req match {
      case Left(msg) => (400, s"""{"error":${quote(msg)}}""")
      case Right(r) =>
        try {
          val df = Retrieval.run(s, d, r)
          val rows = GraftSqlShim.collectJson(
            GraftSqlShim.ofRows(exec, GraftSqlShim.analyzed(df)))
          (200,
            s"""{"mode":${quote(r.mode)},"top_k":${r.k},"results":[${rows.mkString(",")}]}""")
        } catch {
          case e: IllegalArgumentException => // request-derived: run()'s requires
            (400, s"""{"error":${quote(errMsg(e))}}""")
          case NonFatal(e) =>
            (500, s"""{"error":"Internal server error","details":${quote(errMsg(e))}}""")
        }
    }
  }

  private def errMsg(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getSimpleName)

  /** The reference's `GET /health` (`app.py:72-80`) as a pure function:
    * liveness plus the engine-meaningful part — do the data directory's
    * tables actually resolve? A wrapper maps this to its health route. */
  def health(s: SparkSession, d: String): String =
    try {
      val n = Tables.embeddings(s, d).count()
      s"""{"status":"healthy","service":"graft image search","version":"0.1.0","vectors":$n}"""
    } catch {
      case NonFatal(e) =>
        s"""{"status":"unhealthy","error":${quote(Option(e.getMessage).getOrElse(e.getClass.getSimpleName))}}"""
    }

  private def quote(v: String): String =
    JsonMethods.compact(JsonMethods.render(JString(v)))
}

/** Bundled HTTP listener over [[Serving.handle]]/[[Serving.health]] —
  * the last surface of the reference's `app.py` (routes `/health`,
  * `/search/<mode>`, `/api/search`; 16 MB request cap with the 413
  * envelope of `app.py:324-327`; 500 envelope of `app.py:329-331`) on a
  * real socket, using the JDK's `com.sun.net.httpserver` so the library
  * stays zero-dependency. The engine boundary is unchanged: every route
  * is a thin status-code mapping around the SAME pure functions the
  * specs and CLI drive, so "HTTP response body" ≡ "[[Serving.handle]]
  * return value" by construction (ServingHttpSpec asserts it over the
  * wire).
  *
  * Serving-scale note: one Spark driver serves all requests; the server
  * gets an explicit cached thread pool (a NULL executor would run every
  * handler on the single dispatcher thread — one slow collect() would
  * then stall `/health` past any liveness probe) and Spark schedules the
  * concurrent collect()s fairly. This is the reference's deployment
  * shape (one Flask process in front of one engine), not a fleet story.
  *
  * Serving session: [[start]] derives one execution session from the
  * caller's `s` ([[servingSession]]). It shares `s`'s SparkContext,
  * cached data and per-JVM caches, and inherits a SNAPSHOT of `s`'s SQL
  * conf, registered functions and temp views taken at `start`; later
  * changes to `s` do not reach it, and nothing set on it reaches `s`.
  * Each request is still BUILT on `s` (the index and memo builds inside
  * [[graft.operators.Retrieval.run]] stay compiled there, where they
  * are paid once per JVM), and only its final plan runs on the serving
  * session, interpreted. A request's final plan is small and runs once,
  * and compiling it is most of its fixed cost: Spark's JVM-wide codegen
  * cache holds 100 classes while the 11-mode mix needs about 180, so
  * even a repeated request compiled 4 to 30 Janino classes, and one
  * served from the cache ran 30 to 50 % faster. Turning off whole-stage
  * codegen alone still compiled 2 to 22 classes a request (projections,
  * predicates, orderings); the factory mode below removes the rest, and
  * ServingHttpSpec pins zero compilations for a warm round of fresh
  * requests.
  *
  * No-delay sockets: [[start]] sets the JDK server's own
  * `sun.net.httpserver.nodelay=true` unless it is already set. The JDK
  * server flushes a response's headers in `sendResponseHeaders`, before
  * the body is written, so every response leaves as two small segments;
  * with Nagle's algorithm on, the body then waits for the client to ACK
  * the headers, and a client's delayed ACK holds that for up to 40 ms.
  * On a point request that stall was a third or more of the latency.
  * The JDK reads the property once per JVM, when its first server is
  * created; graft creates servers only here. ServingHttpSpec pins a
  * median below the delayed-ACK floor for requests that do no Spark work.
  */
object ServingHttp {

  val MaxBody: Long = 16L * 1024 * 1024 // app.py:27 MAX_CONTENT_LENGTH

  /** Routable modes = the full [[graft.operators.Retrieval.run]]
    * dispatch (r19): the reference's four (`app.py:296-321`) plus the
    * beyond-reference modes, so the SRS §5 latency contract can be
    * measured per mode THROUGH the HTTP envelope ([[graft.ServingBench]])
    * and a client gets every engine mode over the wire. An unknown mode
    * still answers the reference's exact 400 envelope (naming its four —
    * byte-pinned by ServingHttpSpec); accepting a superset changes no
    * reference-visible behavior. */
  val OrderedModes: Seq[String] = Seq("whole", "segment", "hybrid", "tags",
    "lexical", "rrf", "mmr", "maxsim", "fuzzy", "mlt", "graph", "centrality")
  val Modes: Set[String] = OrderedModes.toSet

  /** Default admission ceiling: concurrent in-flight SEARCH requests
    * before the node sheds load with 503 (r20, VERDICT r19 #1 — the
    * C=128 burst showed 28 s pure-queueing tails; an overloaded node
    * must fail fast, not stretch every caller past its deadline).
    * 48 sits above the measured C=32 saturation arm — the stress
    * measurements still observe real queueing — and below the burst
    * regime where tails go unbounded. Env-overridable per deployment. */
  def defaultMaxConcurrent: Int =
    sys.env.get("GRAFT_SERVE_MAX_CONCURRENT").map(_.toInt).getOrElse(48)

  /** Start the listener; `port = 0` picks an ephemeral port (tests).
    * Returns the running server — callers own `stop()`.
    *
    * Admission control: at most `maxConcurrent` search requests run at
    * once; request `maxConcurrent + 1` is answered 503 + `Retry-After: 1`
    * IMMEDIATELY (no queue — a queued request under overload is a slow
    * failure the client can neither cancel nor retry elsewhere; the SRS
    * availability face wants fast shedding so a load balancer routes
    * around the hot node). `/health` is exempt: liveness probes must
    * answer on a saturated node — that is when the monitor most needs
    * them. */
  def start(s: SparkSession, d: String, port: Int,
      maxConcurrent: Int = defaultMaxConcurrent): com.sun.net.httpserver.HttpServer = {
    require(maxConcurrent >= 1,
      s"ServingHttp.start: maxConcurrent must be >= 1, got $maxConcurrent")
    val exec = servingSession(s)
    val admission = new java.util.concurrent.Semaphore(maxConcurrent)
    // no-delay sockets (see the object doc); the JDK reads this once per
    // JVM, at the first server it creates, and a value set by the
    // deployment wins
    System.getProperties.putIfAbsent("sun.net.httpserver.nodelay", "true")
    val srv = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(port), 0)
    srv.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      try route(s, exec, d, ex, admission)
      catch { // app.py:329-331 envelope — a handler bug must answer JSON
        case scala.util.control.NonFatal(e) =>
          respond(ex, 500,
            s"""{"error":"Internal server error","details":${jstr(
              Option(e.getMessage).getOrElse(e.getClass.getSimpleName))}}""")
      }
    })
    // daemon threads: the server must not outlive the JVM that owns the
    // SparkSession it serves from
    srv.setExecutor(java.util.concurrent.Executors.newCachedThreadPool(
      (r: Runnable) => { val t = new Thread(r, "graft-http"); t.setDaemon(true); t }))
    srv.start()
    srv
  }

  /** The interpreted execution session [[start]] serves from: a clone
    * of `s` (see the object doc) with whole-stage codegen off and the
    * expression factories set to `NO_CODEGEN`, so projections,
    * predicates and orderings are interpreted too. Both values are fixed,
    * not configurable. `spark.sql.codegen.factoryMode` is marked internal
    * in Spark; the compile-count spec in ServingHttpSpec pins that it
    * still has this effect. */
  private[graft] def servingSession(s: SparkSession): SparkSession = {
    val exec = GraftSqlShim.cloneSession(s)
    exec.conf.set("spark.sql.codegen.wholeStage", "false")
    exec.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    exec
  }

  private def route(s: SparkSession, exec: SparkSession, d: String,
      ex: com.sun.net.httpserver.HttpExchange,
      admission: java.util.concurrent.Semaphore): Unit = {
    val path = ex.getRequestURI.getPath
    (ex.getRequestMethod, path) match {
      case ("GET", "/health") => respond(ex, 200, Serving.health(s, d))
      case ("POST", p) if p.startsWith("/search/") =>
        val mode = p.stripPrefix("/search/")
        if (!Modes(mode)) respond(ex, 404, """{"error":"Not found"}""")
        else readBody(ex).fold(tooLarge(ex)) { body =>
          // the path names the mode (app.py's per-mode routes): inject
          // it over whatever the body carries; a body that is present
          // but NOT a JSON object is the client's error — refusing
          // beats silently discarding its parameters and answering 200
          withMode(body, mode) match {
            case Right(merged) => admit(s, exec, d, ex, merged, admission)
            case Left(err) => respond(ex, 400, s"""{"error":${jstr(err)}}""")
          }
        }
      case ("POST", "/api/search") =>
        readBody(ex).fold(tooLarge(ex)) { body =>
          parseObject(body) match {
            case Left(err) => respond(ex, 400, s"""{"error":${jstr(err)}}""")
            case Right(JObject(fs)) =>
              val mode = fs.toMap.get("mode") match {
                case Some(JString(m)) => m.toLowerCase
                case _ => ""
              }
              if (!Modes(mode)) // app.py:311's exact envelope
                respond(ex, 400,
                  """{"error":"Invalid mode. Use: whole, segment, hybrid, or tags"}""")
              else withMode(body, mode) match {
                case Right(merged) => admit(s, exec, d, ex, merged, admission)
                case Left(err) => respond(ex, 400, s"""{"error":${jstr(err)}}""")
              }
          }
        }
      case _ => respond(ex, 404, """{"error":"Not found"}""")
    }
  }

  /** Admission gate in front of [[dispatch]]: non-blocking acquire — a
    * request past the ceiling is shed NOW (503 + `Retry-After: 1`, the
    * envelope load balancers and retry middlewares key on) instead of
    * joining an unbounded queue whose tail the r19 burst measured at
    * 28 s. Shedding happens AFTER request validation (a 400 is a 400
    * even on a busy node) and holds the permit for the full engine call
    * so the ceiling bounds in-flight Spark work, not just accepts. */
  private def admit(s: SparkSession, exec: SparkSession, d: String,
      ex: com.sun.net.httpserver.HttpExchange, requestJson: String,
      admission: java.util.concurrent.Semaphore): Unit =
    if (!admission.tryAcquire()) {
      ex.getResponseHeaders.set("Retry-After", "1")
      respond(ex, 503,
        """{"error":"Server overloaded, retry shortly","retry_after_seconds":1}""")
    } else {
      try dispatch(s, exec, d, ex, requestJson)
      finally admission.release()
    }

  private def dispatch(s: SparkSession, exec: SparkSession, d: String,
      ex: com.sun.net.httpserver.HttpExchange, requestJson: String): Unit = {
    // Scheduler FAIRNESS needs per-request POOLS, not just
    // spark.scheduler.mode=FAIR: with no pool set, every job lands in
    // the default pool, whose INTERNAL mode is FIFO — one heavy
    // request's jobs still head-of-line block the queue. FAIR applies
    // BETWEEN pools, so each handler thread claims its own lane
    // (modulo-bounded: pool objects persist in the scheduler, so names
    // must not grow with thread churn); under a FIFO-mode session the
    // property is inert. The thread-local property must be cleared
    // afterward — cached threads are reused.
    s.sparkContext.setLocalProperty("spark.scheduler.pool",
      s"graft-serve-${Thread.currentThread().getId % 64}")
    try {
      // 200 success / 400 engine-rejected request / 500 engine fault —
      // the classification lives with the engine boundary, not in string
      // inspection here
      val (status, out) = Serving.handleWithStatus(s, d, requestJson, exec)
      respond(ex, status, out)
    } finally s.sparkContext.setLocalProperty("spark.scheduler.pool", null)
  }

  /** Body up to [[MaxBody]]; None = over the cap (413 path). */
  private def readBody(ex: com.sun.net.httpserver.HttpExchange): Option[String] = {
    val in = ex.getRequestBody
    val buf = new java.io.ByteArrayOutputStream()
    val chunk = new Array[Byte](64 * 1024)
    var n = in.read(chunk)
    while (n >= 0 && buf.size() <= MaxBody) {
      buf.write(chunk, 0, n)
      n = in.read(chunk)
    }
    if (buf.size() > MaxBody) None
    else Some(new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8))
  }

  private def tooLarge(ex: com.sun.net.httpserver.HttpExchange): Unit =
    respond(ex, 413, """{"error":"File too large. Max size: 16MB"}""") // app.py:326

  /** Parse a request body as a JSON object; an EMPTY body means "all
    * defaults" (the reference's no-form-fields POST), but a body that is
    * present and malformed — truncated JSON, an array, a bare string —
    * is a Left: discarding it would answer 200 with default-parameter
    * results and the client would never learn its parameters were
    * dropped. */
  private def parseObject(body: String): Either[String, JObject] =
    if (body.trim.isEmpty) Right(JObject())
    else scala.util.Try(JsonMethods.parse(body)) match {
      case scala.util.Success(o: JObject) => Right(o)
      case scala.util.Success(other) =>
        Left(s"request body must be a JSON object, got ${other.getClass.getSimpleName}")
      case scala.util.Failure(_) => Left("request body is not valid JSON")
    }

  private def withMode(body: String, mode: String): Either[String, String] =
    parseObject(body).map { case JObject(fs) =>
      JsonMethods.compact(JsonMethods.render(
        JObject(fs.filterNot(_._1 == "mode") :+ ("mode" -> JString(mode)))))
    }

  private def respond(ex: com.sun.net.httpserver.HttpExchange,
      status: Int, json: String): Unit = {
    val bytes = json.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def jstr(v: String): String =
    JsonMethods.compact(JsonMethods.render(JString(v)))
}

/** Terminal wrapper over [[Serving.handle]] — the reference's CLI
  * surface (`search_with_segments.py:628-709`: mode + per-mode knobs as
  * flags). Either pass the request as one JSON blob or as flags:
  *
  * {{{
  * runMain graft.SearchCli --data /root/testdata/sf0.001 --mode hybrid \
  *   --top-k 5 --whole-weight 0.7 --segment-weight 0.3
  * runMain graft.SearchCli --data /root/testdata/sf0.001 \
  *   --json {"mode":"tags","tags":"lbl_2,lbl_4","top_k":5}
  * }}}
  */
object SearchCli {

  /** Flags → request JSON (pure, spec-tested). `--json` wins if given;
    * other flags map 1:1 onto [[Serving.parseRequest]] field names. */
  def requestJson(args: Array[String]): String = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    kv.get("--json").getOrElse {
      val fields = List(
        kv.get("--mode").map(v => s""""mode":${jstr(v)}"""),
        kv.get("--top-k").map(v => s""""top_k":$v"""),
        kv.get("--query-image-id").map(v => s""""query_image_id":$v"""),
        kv.get("--tags").map(v => s""""tags":${jstr(v)}"""),
        kv.get("--terms").map(v => s""""terms":${jstr(v)}"""),
        kv.get("--min-conf").map(v => s""""min_conf":$v"""),
        kv.get("--max-segments").map(v => s""""max_segments":$v"""),
        kv.get("--whole-weight").map(v => s""""whole_weight":$v"""),
        kv.get("--segment-weight").map(v => s""""segment_weight":$v""")).flatten
      fields.mkString("{", ",", "}")
    }
  }

  private def jstr(v: String): String =
    JsonMethods.compact(JsonMethods.render(JString(v)))

  def main(args: Array[String]): Unit = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val data = kv.getOrElse("--data",
      sys.error("--data <dir> is required (parquet table directory)"))
    // --serve gets the SERVING profile ServingBench measured (r19): FAIR
    // scheduling — effective through the per-request pool lanes
    // ServingHttp.dispatch sets; FAIR alone is inert because the default
    // pool's internal mode is FIFO — and few shuffle partitions
    // (requests are point-ish queries; the batch profile's core-count
    // partitions just multiply per-request task overhead under
    // concurrency). One-shot CLI queries keep the batch profile.
    val serving = kv.contains("--serve")
    val parts =
      if (serving) sys.env.getOrElse("SPARK_GRAFT_SERVE_PARTITIONS", "4")
      else Runtime.getRuntime.availableProcessors().toString
    val builder = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-search")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.ui.enabled", "false")
    val spark = (if (serving) builder.config("spark.scheduler.mode", "FAIR")
                 else builder).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    kv.get("--serve") match {
      case Some(port) => // long-running listener mode (app.py's role)
        val srv = ServingHttp.start(spark, data, port.toInt)
        println(s"graft serving on port ${srv.getAddress.getPort} " +
          "(GET /health, POST /search/<mode>, POST /api/search)")
        Thread.currentThread().join() // serve until killed
      case None =>
        println(Serving.handle(spark, data, requestJson(args)))
        spark.stop()
    }
  }
}
