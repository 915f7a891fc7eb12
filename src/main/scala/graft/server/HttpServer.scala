package graft.server

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.engine.TsdbEngine
import graft.model.DatumKind
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

/** The reference server's HTTP surface on a real socket
  * (`server/src/http.rs:303-327` routes), mounting the [[HttpApi]] payload
  * codecs on the JDK's built-in `com.sun.net.httpserver` (no extra
  * dependencies — the engine stays a plain library plus one optional
  * `start()`):
  *
  *   - `POST /sql`                 — `{"query": …}` → rows/affected_rows JSON;
  *                                   `?format=arrow` answers the Arrow IPC
  *                                   stream (the gRPC arrow payload's HTTP twin)
  *   - `POST /influxdb/v1/write`   — line protocol, 204 on success (InfluxDB v1)
  *   - `GET/POST /influxdb/v1/query` — `q=` InfluxQL, `epoch=` time unit
  *   - `POST /opentsdb/api/put`    — OpenTSDB JSON datapoints
  *   - `GET/POST /api/v1/query`    — PromQL instant (`query`, `time` unix secs)
  *   - `GET/POST /api/v1/query_range` — PromQL range (`start`/`end` unix
  *                                   secs, `step` secs or Go-style duration)
  *
  * PromQL metric names resolve against the engine catalog: a metric is an
  * engine table, its tags are the TAG columns, its value is the first
  * float/double field (the reference's implicit single-value mapping).
  *
  * Scale posture: the server is a stateless front — every request plans a
  * Spark job, so concurrency and data scale belong to the cluster, not
  * this layer. Handlers run on a small pool (Spark's scheduler does the
  * real fan-out); responses are protocol-sized (the codecs collect only
  * final results, same as the reference proxy).
  */
final class GraftHttpServer(engine: TsdbEngine, port: Int = 0) {

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(4)

  /** Metric → SeriesTable binding from the engine catalog (tags = TAG
    * columns, value = first float/double field). */
  def resolve(metric: String): graft.promql.PromQL.SeriesTable = {
    val s = engine.catalog.get(metric)
    val tags = s.columns.filter(_.isTag).map(_.name)
    val value = s.columns
      .find(c => !c.isTag && c.name != s.timestampKey &&
        (c.kind == DatumKind.Double || c.kind == DatumKind.Float))
      .map(_.name)
      .getOrElse(throw new IllegalArgumentException(
        s"table '$metric' has no float/double field to serve as the metric value"))
    // project off engine-internal columns (tsid/seq), the user-schema contract
    val df = engine.read(metric)
      .select(s.columns.map(c => org.apache.spark.sql.functions.col(c.name)): _*)
    graft.promql.PromQL.SeriesTable(df, s.timestampKey, value, tags)
  }

  // ------------------------------------------------------------ plumbing

  private def body(x: HttpExchange): String =
    new String(x.getRequestBody.readAllBytes(), UTF_8)

  /** Query-string + form-body params (last wins), URL-decoded. */
  private def params(x: HttpExchange): Map[String, String] = {
    def parse(s: String): Seq[(String, String)] =
      s.split("&").toSeq.filter(_.nonEmpty).map { kv =>
        val i = kv.indexOf('=')
        val (k, v) = if (i < 0) (kv, "") else (kv.take(i), kv.drop(i + 1))
        java.net.URLDecoder.decode(k, UTF_8) ->
          java.net.URLDecoder.decode(v, UTF_8)
      }
    val fromQuery = Option(x.getRequestURI.getRawQuery).map(parse).getOrElse(Nil)
    val fromBody =
      if (x.getRequestMethod == "POST" &&
          Option(x.getRequestHeaders.getFirst("Content-Type"))
            .exists(_.startsWith("application/x-www-form-urlencoded")))
        parse(body(x))
      else Nil
    (fromQuery ++ fromBody).toMap
  }

  /** Repeated query/form values for one key (e.g. Prometheus `match[]`). */
  private def multiParams(x: HttpExchange, key: String): Seq[String] = {
    def parse(s: String): Seq[(String, String)] =
      s.split("&").toSeq.filter(_.nonEmpty).map { kv =>
        val i = kv.indexOf('=')
        val (k, v) = if (i < 0) (kv, "") else (kv.take(i), kv.drop(i + 1))
        java.net.URLDecoder.decode(k, UTF_8) ->
          java.net.URLDecoder.decode(v, UTF_8)
      }
    Option(x.getRequestURI.getRawQuery).map(parse).getOrElse(Nil)
      .collect { case (k, v) if k == key => v }
  }

  private def respond(x: HttpExchange, code: Int, payload: Array[Byte],
      contentType: String): Unit = {
    x.getResponseHeaders.set("Content-Type", contentType)
    if (payload.isEmpty) x.sendResponseHeaders(code, -1)
    else {
      x.sendResponseHeaders(code, payload.length.toLong)
      x.getResponseBody.write(payload)
    }
    x.close()
  }

  private def json(x: HttpExchange, s: String, code: Int = 200): Unit =
    respond(x, code, s.getBytes(UTF_8), "application/json")

  private def route(path: String)(h: HttpExchange => Unit): Unit =
    server.createContext(path, (x: HttpExchange) =>
      try { countRequest(x.getRequestURI.getPath); h(x) }
      catch { case e: Throwable =>
        try json(x, s"""{"code":500,"message":${jstr(e.toString)}}""", 500)
        catch { case _: Throwable => () }
      })

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  /** Prometheus time param: unix seconds, integral or fractional. */
  private def unixMs(s: String): Long = math.round(s.toDouble * 1000.0)

  /** Prometheus step: float seconds or a Go-ish duration (15s, 1m, 2h, 1d). */
  private def stepMs(s: String): Long = {
    val dur = "([0-9]+)(ms|s|m|h|d|w)".r
    s match {
      case dur(n, u) =>
        n.toLong * (u match {
          case "ms" => 1L; case "s" => 1000L; case "m" => 60000L
          case "h" => 3600000L; case "d" => 86400000L; case "w" => 604800000L
        })
      case _ => math.round(s.toDouble * 1000.0)
    }
  }

  // -------------------------------------------------------------- routes

  route("/sql") { x =>
    val b = body(x)
    val t0 = System.nanoTime()
    if (params(x).get("format").contains("arrow"))
      respond(x, 200, HttpApi.handleSqlArrow(engine, b),
        "application/vnd.apache.arrow.stream")
    else json(x, HttpApi.handleSql(engine, b))
    // slow-query log (reference dyn_config.slow_threshold): statements
    // slower than the runtime threshold leave an operator-visible trace
    val secs = (System.nanoTime() - t0) / 1e9
    if (secs >= slowThresholdSecs.get())
      System.err.println(f"[slow-sql] ${secs}%.1fs over " +
        s"${slowThresholdSecs.get()}s threshold: ${b.take(200)}")
  }

  route("/influxdb/v1/write") { x =>
    val r = HttpApi.handleInfluxWrite(engine, body(x))
    // InfluxDB v1 answers 204 No Content on success, JSON error otherwise
    if (r.contains("\"code\"")) json(x, r, 500)
    else respond(x, 204, Array.emptyByteArray, "application/json")
  }

  route("/influxdb/v1/query") { x =>
    val p = params(x)
    p.get("q") match {
      case None =>
        json(x, """{"code":400,"message":"missing parameter: q"}""", 400)
      case Some(q) =>
        json(x, HttpApi.handleInfluxQuery(engine, q, p.get("epoch")))
    }
  }

  // request counters served by /metrics (reference http.rs:532 +
  // metrics.rs dump — Prometheus text exposition)
  private val requestCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.LongAdder]()
  private def countRequest(path: String): Unit =
    requestCounts.computeIfAbsent(path,
      _ => new java.util.concurrent.atomic.LongAdder()).increment()

  // home route: exact "/" answers {"status":"ok"} (http.rs:296-301);
  // the JDK server routes every otherwise-unmatched path here → 404
  route("/") { x =>
    if (x.getRequestURI.getPath == "/") json(x, """{"status":"ok"}""")
    else json(x, """{"code":404,"message":"not found"}""", 404)
  }

  // GET /metrics: Prometheus text exposition of server counters
  // (http.rs:532; the reference dumps its global prometheus registry —
  // here the server's own request counters + engine gauge)
  route("/metrics") { x =>
    val sb = new StringBuilder
    sb.append("# TYPE graft_http_requests_total counter\n")
    requestCounts.forEach { (p, c) =>
      sb.append(s"""graft_http_requests_total{path="$p"} ${c.sum()}""").append('\n')
    }
    sb.append("# TYPE graft_engine_tables gauge\n")
    sb.append(s"graft_engine_tables ${engine.catalog.list().size}\n")
    respond(x, 200, sb.toString.getBytes(UTF_8), "text/plain; version=0.0.4")
  }

  // POST /admin/block (http.rs:659, handlers/admin.rs): runtime edits of
  // the limiter's read/write block lists and block rules
  route("/admin/block") { x =>
    json(x, HttpApi.handleAdminBlock(engine, body(x)))
  }

  // GET /debug/config (http.rs:582): the server's effective config — the
  // reference serves its TOML config content verbatim; the standalone
  // analogue is the engine + session knobs that govern behavior here
  route("/debug/config") { x =>
    val s = engine.spark
    val lines = Seq(
      s"warehouse = ${jstr(engine.warehouse)}",
      s"spark.master = ${jstr(s.sparkContext.master)}",
      s"spark.sql.shuffle.partitions = " +
        s.conf.get("spark.sql.shuffle.partitions", "200"),
      s"spark.sql.session.timeZone = " +
        jstr(s.conf.get("spark.sql.session.timeZone", "")),
      s"limiter.write_block_list = [${engine.limiter.writeBlockList.map(jstr).mkString(", ")}]",
      s"limiter.read_block_list = [${engine.limiter.readBlockList.map(jstr).mkString(", ")}]",
      s"limiter.rules = [${engine.limiter.blockRules.map(r => jstr(r.ruleName)).mkString(", ")}]",
      s"slow_threshold_secs = ${slowThresholdSecs.get()}")
    respond(x, 200, (lines.mkString("\n") + "\n").getBytes(UTF_8), "text/plain")
  }

  // GET /debug/shards (http.rs:592): cluster-only in the reference — the
  // standalone build answers the same refusal (http.rs:150)
  route("/debug/shards") { x =>
    json(x, """{"code":400,"message":"Querying shards is only supported in cluster mode"}""", 400)
  }

  // GET /debug/wal_stats (http.rs:609): WAL statistics. This engine's
  // write path is durable parquet at append time (no WAL); the analogue
  // statistics are the per-table storage counters that play the same
  // operational role (how much is written, how the manifest advances).
  route("/debug/wal_stats") { x =>
    val sb = new StringBuilder("[Data wal stats]:\n")
    engine.catalog.list().sorted.foreach { t =>
      val (gen, floor) = engine.catalog.compactionState(t)
      sb.append(s"table=$t next_seq=${engine.catalog.peekSeq(t)} " +
        s"data_gen=$gen compacted_seq=$floor\n")
    }
    sb.append("\n[Manifest wal stats]:\nmanifest=json-per-table (no wal)\n")
    respond(x, 200, sb.toString.getBytes(UTF_8), "text/plain")
  }

  // GET /debug/sst_metadata/{table}: the reference's `sst-metadata` CLI
  // (tools/src/bin/sst-metadata.rs — per-SST rows/size/time range from
  // parquet footers) served as a debug route: one JSON row per data file
  route("/debug/sst_metadata/") { x =>
    val t = java.net.URLDecoder.decode(
      x.getRequestURI.getPath.stripPrefix("/debug/sst_metadata/"), UTF_8)
    if (!engine.catalog.exists(t))
      json(x, s"""{"code":404,"message":${jstr(s"table not found: $t")}}""", 404)
    else {
      val rows = engine.sstMetadata(t)
        .orderBy("segment", "file").collect()
      val body = rows.map { r =>
        s"""{"file":${jstr(r.getAs[String]("file"))},""" +
          s""""segment":${r.getAs[Long]("segment")},""" +
          s""""n_rows":${r.getAs[Long]("n_rows")},""" +
          s""""bytes":${r.getAs[Long]("bytes")},""" +
          s""""min_ts":${r.getAs[java.sql.Timestamp]("min_ts").getTime},""" +
          s""""max_ts":${r.getAs[java.sql.Timestamp]("max_ts").getTime},""" +
          s""""min_seq":${r.getAs[Long]("min_seq")},""" +
          s""""max_seq":${r.getAs[Long]("max_seq")}}"""
      }.mkString("""{"files":[""", ",", "]}")
      json(x, body)
    }
  }

  // PUT /debug/log_level/{level} (http.rs:640): runtime log-level switch —
  // mapped onto the Spark context's log level
  route("/debug/log_level/") { x =>
    val level = x.getRequestURI.getPath.stripPrefix("/debug/log_level/")
      .toUpperCase
    val valid = Set("ALL", "DEBUG", "ERROR", "FATAL", "INFO", "OFF", "TRACE", "WARN")
    if (!valid.contains(level))
      json(x, s"""{"code":400,"message":${jstr(s"invalid log level: $level")}}""", 400)
    else {
      engine.spark.sparkContext.setLogLevel(level)
      json(x, jstr(level.toLowerCase))
    }
  }

  // POST /debug/query_push_down/{true|false} (http.rs:681): dist-query
  // pushdown toggle. Standalone has no remote plan shipping, so the flag
  // is stored and echoed — which is also its only observable effect in a
  // single-node reference deployment.
  private val queryPushDown = new java.util.concurrent.atomic.AtomicBoolean(false)
  route("/debug/query_push_down/") { x =>
    x.getRequestURI.getPath.stripPrefix("/debug/query_push_down/") match {
      case "true"  => queryPushDown.set(true); respond(x, 200, "true".getBytes(UTF_8), "text/plain")
      case "false" => queryPushDown.set(false); respond(x, 200, "false".getBytes(UTF_8), "text/plain")
      case other   =>
        json(x, s"""{"code":400,"message":${jstr(s"invalid bool: $other")}}""", 400)
    }
  }

  // GET /debug/profile/cpu/{seconds} (http.rs:535): CPU profile over a
  // window. The reference dumps pprof; the JVM analogue samples every
  // live thread's stack for the window (20 Hz) and answers a flat text
  // profile of top-frame sample counts — the same "where is time going"
  // answer, tool-free.
  // one profile at a time: the sample loop parks a handler-pool thread
  // for the whole window, and the pool is small — concurrent profiles
  // must not starve /sql or /admin/block (the un-block path)
  private val profilePermit = new java.util.concurrent.Semaphore(1)
  route("/debug/profile/cpu/") { x =>
    val raw = x.getRequestURI.getPath.stripPrefix("/debug/profile/cpu/")
    raw.toLongOption match {
      case Some(n) if n > 0 =>
        if (!profilePermit.tryAcquire())
          json(x, """{"code":429,"message":"a profile is already running"}""", 429)
        else try {
          val windowMs = math.min(n, 30L) * 1000L
          val counts = new java.util.HashMap[String, Long]()
          val deadline = System.currentTimeMillis() + windowMs
          var samples = 0
          while (System.currentTimeMillis() < deadline) {
            val stacks = Thread.getAllStackTraces
            stacks.forEach { (t, frames) =>
              if (t.getState == Thread.State.RUNNABLE && frames.nonEmpty) {
                val top = frames(0)
                counts.merge(s"${top.getClassName}.${top.getMethodName}", 1L, _ + _)
              }
            }
            samples += 1
            Thread.sleep(50)
          }
          val sb = new StringBuilder(s"cpu profile: $samples samples over ${windowMs / 1000}s\n")
          import scala.jdk.CollectionConverters._
          counts.asScala.toSeq.sortBy(-_._2).take(50).foreach { case (f, c) =>
            sb.append(s"$c $f\n")
          }
          respond(x, 200, sb.toString.getBytes(UTF_8), "text/plain")
        } finally profilePermit.release()
      case _ =>
        json(x, s"""{"code":400,"message":${jstr(s"invalid seconds: $raw")}}""", 400)
    }
  }

  // GET /debug/profile/heap/{seconds} (http.rs:558): heap profile — the
  // JVM analogue is the current per-pool memory usage (a jeprof-style
  // allocation window needs an agent; the current-usage dump is what the
  // reference's endpoint is used for operationally)
  route("/debug/profile/heap/") { x =>
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
    val sb = new StringBuilder
    val h = mem.getHeapMemoryUsage
    sb.append(s"heap: used=${h.getUsed} committed=${h.getCommitted} max=${h.getMax}\n")
    val nh = mem.getNonHeapMemoryUsage
    sb.append(s"non-heap: used=${nh.getUsed} committed=${nh.getCommitted}\n")
    pools.forEach { p =>
      val u = p.getUsage
      if (u != null) sb.append(s"pool ${p.getName}: used=${u.getUsed} committed=${u.getCommitted}\n")
    }
    respond(x, 200, sb.toString.getBytes(UTF_8), "text/plain")
  }

  // PUT /debug/slow_threshold/{seconds} (http.rs:700): slow-query log
  // threshold; /sql logs statements slower than this to stderr
  private[server] val slowThresholdSecs =
    new java.util.concurrent.atomic.AtomicLong(60L)
  route("/debug/slow_threshold/") { x =>
    val raw = x.getRequestURI.getPath.stripPrefix("/debug/slow_threshold/")
    raw.toLongOption match {
      case Some(n) if n >= 0 =>
        slowThresholdSecs.set(n)
        respond(x, 200, s"current_slow_threshold:${n}s".getBytes(UTF_8), "text/plain")
      case _ =>
        json(x, s"""{"code":400,"message":${jstr(s"invalid seconds: $raw")}}""", 400)
    }
  }

  // POST /debug/flush_memtable (http.rs:484-526): flushes every table
  // whose write buffer holds rows to Parquet (`TsdbEngine.flush`; a table
  // with nothing buffered keeps its files and schema) and answers
  // {"success": [...], "failed": [...]}: a table whose flush throws is
  // listed under "failed" and the others still flush.
  route("/debug/flush_memtable") { x =>
    val (ok, failed) = engine.bufferedTables.partition { n =>
      try { engine.flush(n); true }
      catch { case e: Exception =>
        System.err.println(s"[flush_memtable] $n failed: ${e.getMessage}"); false }
    }
    json(x, ok.map(jstr).mkString("""{"success":[""", ",", "],") +
      failed.map(jstr).mkString(""""failed":[""", ",", "]}"))
  }

  // GET /route/<table>: single-node routing — every existing table routes
  // to this server (route.rs:36-67)
  route("/route/") { x =>
    val t = x.getRequestURI.getPath.stripPrefix("/route/")
    json(x, HttpApi.handleRoute(engine,
      java.net.URLDecoder.decode(t, UTF_8), "127.0.0.1", boundPort))
  }

  route("/opentsdb/api/query") { x =>
    json(x, HttpApi.handleOpentsdbQuery(resolve, body(x)))
  }

  route("/opentsdb/api/put") { x =>
    val r = HttpApi.handleOpentsdbPut(engine, body(x))
    // OpenTSDB answers 204 No Content on full success (http.rs put route)
    if (r.isEmpty) respond(x, 204, Array.emptyByteArray, "application/json")
    else json(x, r, 500)
  }

  route("/api/v1/query") { x =>
    val p = params(x)
    p.get("query") match {
      case None => json(x,
        """{"status":"error","errorType":"bad_data","error":"missing parameter: query"}""",
        400)
      case Some(q) =>
        val t = p.get("time").map(unixMs).getOrElse(System.currentTimeMillis())
        json(x, HttpApi.handlePromInstant(engine.spark, resolve, q, t))
    }
  }

  route("/api/v1/query_range") { x =>
    val p = params(x)
    (p.get("query"), p.get("start"), p.get("end"), p.get("step")) match {
      case (Some(q), Some(s0), Some(e0), Some(st)) =>
        json(x, HttpApi.handlePromRange(engine.spark, resolve, q,
          graft.promql.EvalParams(unixMs(s0), unixMs(e0), stepMs(st))))
      case _ =>
        json(x, """{"status":"error","errorType":"bad_data","error":"query, start, end, step are required"}""", 400)
    }
  }

  route("/api/v1/labels") { x =>
    json(x, HttpApi.handlePromLabels(engine))
  }

  // path-parameter route: /api/v1/label/<name>/values
  route("/api/v1/label/") { x =>
    val path = x.getRequestURI.getPath
    """^/api/v1/label/([^/]+)/values$""".r.findFirstMatchIn(path) match {
      case Some(m) => json(x, HttpApi.handlePromLabelValues(
        engine, java.net.URLDecoder.decode(m.group(1), UTF_8)))
      case None => json(x,
        """{"status":"error","errorType":"bad_data","error":"use /api/v1/label/<name>/values"}""",
        400)
    }
  }

  route("/api/v1/series") { x =>
    val m = multiParams(x, "match[]")
    if (m.isEmpty) json(x,
      """{"status":"error","errorType":"bad_data","error":"no match[] parameter provided"}""",
      400)
    else json(x, HttpApi.handlePromSeries(engine, m))
  }

  // ----------------------------------------------------------- lifecycle

  def start(): GraftHttpServer = {
    server.setExecutor(pool)
    server.start()
    this
  }

  /** The actual bound port (ephemeral when constructed with port = 0). */
  def boundPort: Int = server.getAddress.getPort

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    ()
  }
}
