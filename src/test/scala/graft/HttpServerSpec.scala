package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.engine.TsdbEngine
import graft.server.GraftHttpServer
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

/** The reference's HTTP routes served on a REAL socket
  * (server/src/http.rs:303-327): write paths, query paths, Prometheus API,
  * and error shapes, exercised end-to-end with the JDK HTTP client against
  * an ephemeral port.
  */
class HttpServerSpec extends SparkSpec {

  private val mapper = new ObjectMapper()
  private lazy val client = HttpClient.newHttpClient()

  private def get(url: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def post(url: String, body: String,
      contentType: String = "application/json"): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(url))
        .header("Content-Type", contentType)
        .POST(HttpRequest.BodyPublishers.ofString(body, UTF_8)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, UTF_8)

  test("http server: reference routes round-trip on a real socket") {
    val e = new TsdbEngine(spark, tmpDir("httpsrv-wh"))
    val srv = new GraftHttpServer(e).start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"

      // ---- influx line-protocol write: 204, table auto-created
      val t0 = 1704067200000000000L // 2024-01-01T00:00:00Z in ns
      val lp =
        s"""cpu,host=a usage=1.5 $t0
           |cpu,host=b usage=2.5 ${t0 + 60000000000L}""".stripMargin
      val w = post(s"$base/influxdb/v1/write", lp, "text/plain")
      assert(w.statusCode() == 204, w.body())

      // ---- POST /sql: rows JSON in the reference shape
      val sql = post(s"$base/sql",
        """{"query": "SELECT host, usage FROM cpu ORDER BY host"}""")
      assert(sql.statusCode() == 200)
      val rows = mapper.readTree(sql.body()).get("rows")
      assert(rows != null && rows.size() == 2, sql.body())
      assert(rows.get(0).get("host").asText() == "a")
      assert(rows.get(0).get("usage").asDouble() == 1.5)

      // ---- GET /influxdb/v1/query: v1 results/series shape, epoch=ms
      val iq = get(s"$base/influxdb/v1/query?epoch=ms&q=" +
        enc("SELECT mean(usage) AS usage FROM cpu GROUP BY time(1m), host"))
      assert(iq.statusCode() == 200)
      val series = mapper.readTree(iq.body())
        .get("results").get(0).get("series")
      assert(series.size() == 2, iq.body())
      assert(series.get(0).get("tags").get("host").asText() == "a")
      assert(series.get(0).get("values").get(0).get(0).asLong()
        == t0 / 1000000L) // epoch ms

      // ---- raw select split by tag (InfluxDB raw-series GROUP BY)
      val rq = get(s"$base/influxdb/v1/query?epoch=ms&q=" +
        enc("SELECT usage FROM cpu GROUP BY host"))
      val rSeries = mapper.readTree(rq.body())
        .get("results").get(0).get("series")
      assert(rSeries.size() == 2, rq.body())
      assert(rSeries.get(1).get("tags").get("host").asText() == "b")
      assert(rSeries.get(1).get("values").get(0).get(1).asDouble() == 2.5)

      // ---- POST /opentsdb/api/put: 204, then queryable over /sql
      val put = post(s"$base/opentsdb/api/put",
        """[{"metric":"tsdbm","timestamp":1704067200,"value":3.5,"tags":{"dc":"x"}}]""")
      assert(put.statusCode() == 204, put.body())
      val putQ = post(s"$base/sql",
        """{"query": "SELECT dc, value FROM tsdbm"}""")
      val putRows = mapper.readTree(putQ.body()).get("rows")
      assert(putRows.size() == 1 && putRows.get(0).get("value").asDouble() == 3.5)

      // ---- home route: {"status":"ok"} on "/", 404 elsewhere (http.rs:296)
      assert(mapper.readTree(get(s"$base/").body()).get("status").asText() == "ok")
      assert(get(s"$base/nope").statusCode() == 404)

      // ---- raw-SQL body on /sql (reference accepts json OR plain text)
      val rawSql = post(s"$base/sql", "SELECT dc FROM tsdbm", "text/plain")
      assert(mapper.readTree(rawSql.body()).get("rows").get(0)
        .get("dc").asText() == "x", rawSql.body())

      // ---- GET /route/<table>: single-node routing (route.rs shape)
      val rt = mapper.readTree(get(s"$base/route/tsdbm").body())
      assert(rt.get("routes").size() == 1)
      assert(rt.get("routes").get(0).get("table").asText() == "tsdbm")
      assert(rt.get("routes").get(0).get("endpoint").get("port").asInt() == srv.boundPort)
      assert(mapper.readTree(get(s"$base/route/absent").body())
        .get("routes").size() == 0)

      // ---- POST /opentsdb/api/query: 2.x response array with dps
      post(s"$base/opentsdb/api/put",
        """[{"metric":"tsdbm","timestamp":1704067260,"value":1.5,"tags":{"dc":"x"}},
          |{"metric":"tsdbm","timestamp":1704067260,"value":2.0,"tags":{"dc":"y"}}]""".stripMargin)
      val oq = post(s"$base/opentsdb/api/query",
        """{"start": 0, "end": 1704100000000,
          | "queries": [{"metric": "tsdbm", "aggregator": "sum",
          |   "filters": [{"type": "literal_or", "tagk": "dc",
          |     "filter": "x|y", "groupBy": true}]}]}""".stripMargin)
      assert(oq.statusCode() == 200, oq.body())
      val oqJ = mapper.readTree(oq.body())
      assert(oqJ.size() == 2, oq.body()) // one entry per dc group
      val byDc = (0 until oqJ.size()).map { i =>
        oqJ.get(i).get("tags").get("dc").asText() -> oqJ.get(i).get("dps")
      }.toMap
      assert(byDc("x").get("1704067200000").asDouble() == 3.5)
      assert(byDc("x").get("1704067260000").asDouble() == 1.5)
      assert(byDc("y").get("1704067260000").asDouble() == 2.0)
      assert(oqJ.get(0).get("metric").asText() == "tsdbm")

      // ---- POST /debug/flush_memtable: reference response shape; every
      // table succeeds (writes are already durable at append time)
      val fl = mapper.readTree(post(s"$base/debug/flush_memtable", "").body())
      val flushed = (0 until fl.get("success").size())
        .map(fl.get("success").get(_).asText()).toSet
      assert(flushed.contains("cpu") && flushed.contains("tsdbm"), fl.toString)
      assert(fl.get("failed").size() == 0)

      // ---- GET /metrics: Prometheus text exposition with request counters
      val mx = get(s"$base/metrics")
      assert(mx.statusCode() == 200)
      assert(mx.body().contains("# TYPE graft_http_requests_total counter"))
      assert(mx.body().contains("""graft_http_requests_total{path="/sql"}"""))
      assert(mx.body().contains("graft_engine_tables 2"), mx.body())

      // ---- Prometheus instant query: engine table served as a metric
      val pi = get(s"$base/api/v1/query?query=cpu&time=1704067260")
      assert(pi.statusCode() == 200)
      val piJ = mapper.readTree(pi.body())
      assert(piJ.get("status").asText() == "success", pi.body())
      val result = piJ.get("data").get("result")
      assert(piJ.get("data").get("resultType").asText() == "vector")
      val byHost = (0 until result.size()).map { i =>
        result.get(i).get("metric").get("host").asText() ->
          result.get(i).get("value").get(1).asText()
      }.toMap
      assert(byHost == Map("a" -> "1.5", "b" -> "2.5"), pi.body())
      assert(result.get(0).get("metric").get("__name__").asText() == "cpu")

      // ---- Prometheus range query with a duration step
      val pr = get(s"$base/api/v1/query_range?query=cpu" +
        "&start=1704067200&end=1704067260&step=60s")
      val prJ = mapper.readTree(pr.body())
      assert(prJ.get("status").asText() == "success", pr.body())
      assert(prJ.get("data").get("resultType").asText() == "matrix")
      // host=a is visible at both grid points (5m lookback), host=b at one
      val counts = {
        val r = prJ.get("data").get("result")
        (0 until r.size()).map(i =>
          r.get(i).get("metric").get("host").asText() ->
            r.get(i).get("values").size()).toMap
      }
      assert(counts == Map("a" -> 2, "b" -> 1), pr.body())

      // ---- Arrow answer: right content type, parseable IPC stream bytes
      val ar = client.send(HttpRequest.newBuilder(
          URI.create(s"$base/sql?format=arrow"))
          .POST(HttpRequest.BodyPublishers.ofString(
            """{"query": "SELECT host, usage FROM cpu ORDER BY host"}""", UTF_8))
          .build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(ar.statusCode() == 200)
      assert(ar.headers().firstValue("Content-Type").orElse("")
        == "application/vnd.apache.arrow.stream")
      assert(ar.body().length > 8, "empty arrow payload")

      // ---- Prometheus metadata endpoints
      val labels = mapper.readTree(get(s"$base/api/v1/labels").body())
      val labelList = (0 until labels.get("data").size())
        .map(labels.get("data").get(_).asText())
      assert(labelList.contains("__name__") && labelList.contains("host")
        && labelList.contains("dc"), labelList.toString)

      val names = mapper.readTree(
        get(s"$base/api/v1/label/__name__/values").body())
      val nameList = (0 until names.get("data").size())
        .map(names.get("data").get(_).asText())
      assert(nameList.contains("cpu") && nameList.contains("tsdbm"))

      val hosts = mapper.readTree(
        get(s"$base/api/v1/label/host/values").body())
      assert((0 until hosts.get("data").size())
        .map(hosts.get("data").get(_).asText()) == Seq("a", "b"))

      val ser = mapper.readTree(get(
        s"$base/api/v1/series?match[]=" + enc("""cpu{host=~"a|b"}""")).body())
      assert(ser.get("status").asText() == "success", ser.toString)
      val serList = (0 until ser.get("data").size()).map { i =>
        val o = ser.get("data").get(i)
        (o.get("__name__").asText(), o.get("host").asText())
      }
      assert(serList == Seq(("cpu", "a"), ("cpu", "b")), serList.toString)
      // negative matcher drops a series
      val ser2 = mapper.readTree(get(
        s"$base/api/v1/series?match[]=" + enc("""cpu{host!="a"}""")).body())
      assert(ser2.get("data").size() == 1)
      assert(get(s"$base/api/v1/series").statusCode() == 400)

      // ---- error shapes: SQL error JSON, missing-parameter 400s
      val bad = post(s"$base/sql", """{"query": "SELECT FROM nowhere ("}""")
      assert(mapper.readTree(bad.body()).has("code"), bad.body())
      assert(get(s"$base/influxdb/v1/query").statusCode() == 400)
      assert(get(s"$base/api/v1/query").statusCode() == 400)
      assert(get(s"$base/api/v1/query_range?query=cpu").statusCode() == 400)

      // ---- debug/admin routes (http.rs:535-705)
      val cfg = get(s"$base/debug/config")
      assert(cfg.statusCode() == 200 &&
        cfg.body().contains("warehouse = ") &&
        cfg.body().contains("slow_threshold_secs = 60"), cfg.body())
      val shards = get(s"$base/debug/shards")
      assert(shards.statusCode() == 400 &&
        shards.body().contains("only supported in cluster mode"))
      val wal = get(s"$base/debug/wal_stats")
      assert(wal.statusCode() == 200 &&
        wal.body().contains("[Data wal stats]") &&
        wal.body().contains("next_seq="), wal.body())
      // sst-metadata tool twin: per-file rows/bytes for the cpu table
      val sst = mapper.readTree(get(s"$base/debug/sst_metadata/cpu").body())
      assert(sst.get("files").size() >= 1)
      val f0 = sst.get("files").get(0)
      assert(f0.get("n_rows").asLong() >= 1L && f0.get("bytes").asLong() > 0L &&
        f0.get("file").asText().endsWith(".parquet"), f0.toString)
      assert(get(s"$base/debug/sst_metadata/ghost").statusCode() == 404)
      val lvl = client.send(HttpRequest.newBuilder(
          URI.create(s"$base/debug/log_level/warn"))
          .PUT(HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(lvl.statusCode() == 200 && lvl.body() == "\"warn\"", lvl.body())
      assert(get(s"$base/debug/log_level/bogus").statusCode() == 400)
      assert(post(s"$base/debug/query_push_down/true", "").body() == "true")
      assert(post(s"$base/debug/query_push_down/nah", "").statusCode() == 400)
      val st = client.send(HttpRequest.newBuilder(
          URI.create(s"$base/debug/slow_threshold/5"))
          .PUT(HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(st.body() == "current_slow_threshold:5s", st.body())
      assert(get(s"$base/debug/config").body()
        .contains("slow_threshold_secs = 5"))
      val cpu = get(s"$base/debug/profile/cpu/1")
      assert(cpu.statusCode() == 200 &&
        cpu.body().startsWith("cpu profile:"), cpu.body().take(80))
      val heap = get(s"$base/debug/profile/heap/1")
      assert(heap.statusCode() == 200 && heap.body().startsWith("heap: used="),
        heap.body().take(80))
    } finally srv.stop()
  }

  /** Mirrors `integration_tests/recovery/run.sh` + `check.py`: prepare
    * two tables (one uppercase) over /sql, "restart" (a NEW engine and
    * server on the same warehouse — the process-restart analogue), and
    * the same SELECT * answers the same rows including the tsid column;
    * then flush_memtable, restart again, and check once more. The tsid
    * VALUE is engine-specific (documented deviation) — the contract
    * checked here is that it is surfaced and STABLE across restarts. */
  test("recovery script: data and schema survive engine restarts") {
    val wh = tmpDir("recovery-wh")
    val ts = 1704067200000L
    val tables = Seq(s"sql_test$ts", s"SQL_TEST$ts")

    def withServer[A](f: String => A): A = {
      val e = new TsdbEngine(spark, wh)
      val srv = new GraftHttpServer(e).start()
      try f(s"http://127.0.0.1:${srv.boundPort}") finally srv.stop()
    }
    def rows(base: String, t: String): Seq[com.fasterxml.jackson.databind.JsonNode] = {
      val r = post(s"$base/sql",
        s"""{"query": "SELECT * FROM `$t` ORDER BY t"}""")
      assert(r.statusCode() == 200, r.body())
      val rs = mapper.readTree(r.body()).get("rows")
      (0 until rs.size).map(rs.get)
    }
    def check(base: String, expectTsid: Option[Long]): Long = {
      val r1 = rows(base, tables(0))
      assert(r1.map(_.get("value").asDouble()) == Seq(1.0, 11.0) &&
        r1.map(_.get("VALUE2").asDouble()) == Seq(2.0, 22.0) &&
        r1.map(_.get("t").asLong()) == Seq(ts - 5000, ts) &&
        r1.forall(x => x.get("tag1").asText() == "v1" &&
          x.get("tag2").asText() == "v2"), r1.toString)
      val r2 = rows(base, tables(1))
      assert(r2.map(_.get("value").asDouble()) == Seq(10.0, 110.0) &&
        r2.map(_.get("VALUE2").asDouble()) == Seq(20.0, 220.0), r2.toString)
      // both tables share one tag set → one tsid, stable across restarts
      val tsids = (r1 ++ r2).map(_.get("tsid").asLong()).distinct
      assert(tsids.length == 1, tsids.toString)
      expectTsid.foreach(x => assert(x == tsids.head, "tsid changed across restart"))
      tsids.head
    }

    // first boot: prepare + initial check
    val tsid0 = withServer { base =>
      for (t <- tables)
        assert(post(s"$base/sql", s"""{"query": "CREATE TABLE if not exists ${'`'}$t${'`'} (${'`'}t${'`'} timestamp NOT NULL, ${'`'}tag1${'`'} string TAG, ${'`'}tag2${'`'} string TAG, ${'`'}value${'`'} double NOT NULL, ${'`'}VALUE2${'`'} double NOT NULL, timestamp KEY (t))"}""")
          .statusCode() == 200)
      assert(post(s"$base/sql", s"""{"query": "insert into ${tables(0)}(t, tag1, tag2, value, VALUE2) values (${ts - 5000}, 'v1', 'v2', 1, 2), ($ts, 'v1', 'v2', 11, 22)"}""")
        .statusCode() == 200)
      assert(post(s"$base/sql", s"""{"query": "insert into ${tables(1)}(t, tag1, tag2, value, VALUE2) values (${ts - 5000}, 'v1', 'v2', 10, 20), ($ts, 'v1', 'v2', 110, 220)"}""")
        .statusCode() == 200)
      check(base, None)
    }
    // restart and check
    val tsid1 = withServer(base => check(base, Some(tsid0)))
    // flush, restart and check
    withServer { base =>
      val ddl = () => tables.map(new graft.catalog.GraftCatalog(wh).showCreate(_))
      val before = ddl()
      val fl = post(s"$base/debug/flush_memtable", "")
      assert(fl.statusCode() == 200)
      // INSERT-only tables hold nothing buffered: no flush, no first-flush
      // sampling, so their schema and options are unchanged
      assert(mapper.readTree(fl.body()).get("success").size() == 0, fl.body())
      assert(ddl() == before)
      check(base, Some(tsid1))
    }
    withServer(base => check(base, Some(tsid1)))
  }

  /** Mirrors `integration_tests/opentsdb/test-put.py`: put validation
    * errors (empty/invalid bodies, empty metric/tags/tag-name, timestamp
    * bounds) answer 500; single/multi-point puts succeed with 204,
    * auto-create the table (tags → TAG, `value` double), read back
    * through /sql with null tags for points that lack one, and
    * second-resolution timestamps normalize to ms. Pinned timestamps
    * replace the script's now(). */
  test("opentsdb put script: validations, auto-create, read-back") {
    val e = new TsdbEngine(spark, tmpDir("otsdbput-wh"))
    val srv = new GraftHttpServer(e).start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      val ts = 1704067200000L
      def put(bodyStr: String) = post(s"$base/opentsdb/api/put", bodyStr)
      def putFail(bodyStr: String): Unit =
        assert(put(bodyStr).statusCode() == 500, bodyStr.take(60))

      // validation failures (test_put_validate_error)
      putFail("")
      putFail("{xxx")
      putFail(s"""{"metric":"","timestamp":$ts,"value":18,"tags":{"host":"web01","dc":"lga"}}""")
      putFail(s"""{"metric":"sys.cpu.nice","timestamp":$ts,"value":18,"tags":{}}""")
      putFail(s"""{"metric":"sys.cpu.nice","timestamp":$ts,"value":18,"tags":{"":"web01","dc":"lga"}}""")
      putFail("""{"metric":"sys.cpu.nice","timestamp":1,"value":18,"tags":{"host":"web01"}}""")
      putFail("""{"metric":"sys.cpu.nice","timestamp":10000000000000,"value":18,"tags":{"host":"web01"}}""")

      // single point, int value → double column, schema contents
      val tbl = s"opentsdb_test_$ts"
      assert(put(s"""{"metric":"$tbl","timestamp":$ts,"value":9527,"tags":{"host":"web01","dc":"lga"}}""")
        .statusCode() == 204)
      val sc = post(s"$base/sql", s"""{"query": "SHOW CREATE TABLE $tbl"}""").body()
      for (frag <- Seq("`timestamp` timestamp NOT NULL", "`dc` string TAG",
          "`host` string TAG", "`value` double"))
        assert(sc.contains(frag), s"missing $frag in $sc")
      val r1 = mapper.readTree(post(s"$base/sql",
        s"""{"query": "SELECT timestamp, dc, host, value FROM $tbl"}""").body())
      assert(r1.get("rows").size() == 1)
      val row1 = r1.get("rows").get(0)
      assert(row1.get("timestamp").asLong() == ts &&
        row1.get("dc").asText() == "lga" && row1.get("host").asText() == "web01" &&
        row1.get("value").asDouble() == 9527.0)

      // second-resolution timestamp normalizes to the same ms
      val tbl2 = s"opentsdb_test2_$ts"
      assert(put(s"""{"metric":"$tbl2","timestamp":${ts / 1000},"value":95.27,"tags":{"host":"web01","dc":"lga"}}""")
        .statusCode() == 204)
      val r2 = mapper.readTree(post(s"$base/sql",
        s"""{"query": "SELECT timestamp, value FROM $tbl2"}""").body())
      assert(r2.get("rows").get(0).get("timestamp").asLong() == ts)
      assert(r2.get("rows").get(0).get("value").asDouble() == 95.27)

      // multi-point, different tag sets in one table → null for absent tag
      val tbl3 = s"opentsdb_test3_$ts"
      assert(put(s"""[
        {"metric":"$tbl3","timestamp":$ts,"value":18,"tags":{"host":"web01"}},
        {"metric":"$tbl3","timestamp":$ts,"value":9,"tags":{"dc":"lga"}}]""")
        .statusCode() == 204)
      val r3 = mapper.readTree(post(s"$base/sql",
        s"""{"query": "SELECT timestamp, dc, host, value FROM $tbl3 ORDER BY value desc"}""").body())
      assert(r3.get("rows").size() == 2, r3.toString)
      assert(r3.get("rows").get(0).get("dc").isNull &&
        r3.get("rows").get(0).get("host").asText() == "web01" &&
        r3.get("rows").get(0).get("value").asDouble() == 18.0)
      assert(r3.get("rows").get(1).get("dc").asText() == "lga" &&
        r3.get("rows").get(1).get("host").isNull &&
        r3.get("rows").get(1).get("value").asDouble() == 9.0)

      // mixed int/double values in one put succeed (the script documents
      // this as a reference-internal-error regression test)
      val tbl4 = s"opentsdb_test4_$ts"
      assert(put(s"""[
        {"metric":"$tbl4","timestamp":$ts,"value":18,"tags":{"host":"web01","dc":"lga"}},
        {"metric":"$tbl4","timestamp":$ts,"value":9.999,"tags":{"host":"web02","dc":"lga"}}]""")
        .statusCode() == 204)

      // multi-table put in one request
      val (ta, tb) = (s"opentsdb_test5_$ts", s"opentsdb_test6_$ts")
      assert(put(s"""[
        {"metric":"$ta","timestamp":$ts,"value":18,"tags":{"host":"web01","dc":"lga"}},
        {"metric":"$tb","timestamp":$ts,"value":9,"tags":{"host":"web02","dc":"lga"}}]""")
        .statusCode() == 204)
      for (t <- Seq(ta, tb))
        assert(mapper.readTree(post(s"$base/sql",
          s"""{"query": "SELECT count(*) AS n FROM $t"}""").body())
          .get("rows").get(0).get("n").asLong() == 1L)
    } finally srv.stop()
  }

  /** Mirrors `integration_tests/prom/remote-query.py`: top-level range
    * selectors answer the raw-sample matrix, matchers hit case-sensitive
    * uppercase tags and tables, and `__horaedb_field__` selects a
    * NON-default value column (remote.rs:46). Pinned timestamps replace
    * the script's now(). */
  test("prom remote-query script: range selectors, field label, case") {
    val e = new TsdbEngine(spark, tmpDir("promrq-wh"))
    val srv = new GraftHttpServer(e).start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      val ts = 1704067200000L // script: now(); pinned
      for (t <- Seq("prom_remote_query_test", "PROM_REMOTE_QUERY_TEST"))
        e.execute(s"CREATE TABLE `$t` (`t` timestamp NOT NULL, " +
          "`tag1` string TAG, `TAG2` string TAG, `value` double NOT NULL, " +
          "`VALUE2` double NOT NULL, timestamp KEY (t))")
      e.execute("insert into prom_remote_query_test(t, tag1, TAG2, value, VALUE2) " +
        s"values (${ts - 5000}, 'v1', 'v2', 1, 2), ($ts, 'v1', 'v2', 11, 22)")
      e.execute("insert into PROM_REMOTE_QUERY_TEST(t, tag1, TAG2, value, VALUE2) " +
        s"values (${ts - 5000}, 'v1', 'v2', 10, 20), ($ts, 'v1', 'v2', 110, 220)")

      def pql(q: String): com.fasterxml.jackson.databind.JsonNode = {
        val r = get(s"$base/api/v1/query?query=${enc(q)}&time=${ts / 1000}")
        assert(r.statusCode() == 200, r.body())
        mapper.readTree(r.body())
      }
      def values(j: com.fasterxml.jackson.databind.JsonNode): Seq[(Long, String)] = {
        val vs = j.get("data").get("result").get(0).get("values")
        (0 until vs.size).map(i =>
          (vs.get(i).get(0).asLong(), vs.get(i).get(1).asText()))
      }
      val tsec = ts / 1000

      val r1 = pql("""prom_remote_query_test{tag1="v1"}[5m]""")
      assert(r1.get("data").get("resultType").asText() == "matrix")
      val m1 = r1.get("data").get("result").get(0).get("metric")
      assert(m1.get("__name__").asText() == "prom_remote_query_test" &&
        m1.get("tag1").asText() == "v1" && m1.get("TAG2").asText() == "v2")
      assert(values(r1) == Seq((tsec - 5, "1"), (tsec, "11")))

      // uppercase tag matcher
      assert(values(pql("""prom_remote_query_test{TAG2="v2"}[5m]""")) ==
        Seq((tsec - 5, "1"), (tsec, "11")))
      // regex matcher
      assert(values(pql("""prom_remote_query_test{tag1=~"v1"}[5m]""")) ==
        Seq((tsec - 5, "1"), (tsec, "11")))
      // negative matchers drop everything
      assert(pql("""prom_remote_query_test{tag1!="v1"}[5m]""")
        .get("data").get("result").size() == 0)
      assert(pql("""prom_remote_query_test{tag1!~"v1"}[5m]""")
        .get("data").get("result").size() == 0)
      // field label selects the UPPERCASE non-default value column
      assert(values(pql(
        """prom_remote_query_test{tag1="v1",__horaedb_field__="VALUE2"}[5m]""")) ==
        Seq((tsec - 5, "2"), (tsec, "22")))
      // uppercase table
      assert(values(pql("""PROM_REMOTE_QUERY_TEST{tag1="v1"}[5m]""")) ==
        Seq((tsec - 5, "10"), (tsec, "110")))
    } finally srv.stop()
  }
}
