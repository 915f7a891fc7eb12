package graft.server

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import graft.engine.TsdbEngine
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** HTTP API payload codec: the reference server's request/response JSON
  * shapes (HoraeDB `server/src/http.rs` routes — POST /sql,
  * /influxdb/v1/write + /query, /opentsdb/api/put), implemented as pure
  * functions from request body to response body over a [[TsdbEngine]].
  * The engine stays library-shaped (the round-1 scope agreement): there
  * is no socket here — mount these handlers on any HTTP framework and
  * the wire format matches what a reference client expects.
  *
  * Response fidelity (proxy/src/http/sql.rs:79-141,
  * common_types/src/datum.rs:1034-1058): DML/DDL answer
  * `{"affected_rows": n}`; queries answer `{"rows": [{col: value, ...}]}`
  * with timestamps as epoch millis, binary as byte arrays, null as JSON
  * null; errors answer `{"code": c, "message": m}` (http.rs:910-913).
  * InfluxQL queries answer the InfluxDB v1 results/series shape
  * (proxy/src/influxdb/types.rs:233-260), split into one series per
  * GROUP BY tag combination.
  *
  * Driver-side serialization is inherent to a wire protocol (the
  * reference collects batches to build the same JSON); these are
  * protocol-sized results, not analytics outputs.
  */
object HttpApi {

  private val mapper = new ObjectMapper()

  /** Body of /sql: `{"query": "..."}` or, like the reference
    * (http.rs:306-310 `warp::body::json().or(bytes)`), the raw SQL text
    * itself as a plain body. */
  private def sqlOf(body: String): String =
    (try Option(mapper.readTree(body)) catch { case _: Throwable => None })
      .flatMap(n => Option(n.get("query")).map(_.asText()))
      .getOrElse(body)

  /** POST /sql with body `{"query": "..."}` (or raw SQL text). */
  def handleSql(engine: TsdbEngine, body: String): String =
    try {
      val q = sqlOf(body)
      val df = engine.execute(q)
      val out = mapper.createObjectNode()
      if (df.schema.length == 1 && df.schema.head.name == "affected_rows") {
        out.put("affected_rows", df.collect().headOption
          .map(_.getLong(0)).getOrElse(0L))
      } else {
        val rows = out.putArray("rows")
        val names = df.schema.fieldNames
        df.collect().foreach { r =>
          val o = rows.addObject()
          names.indices.foreach(i => putDatum(o, names(i), r.get(i)))
        }
      }
      mapper.writeValueAsString(out)
    } catch { case e: Throwable => errorJson(500, e) }

  /** POST /sql answered as an Arrow IPC stream — the HTTP twin of the
    * reference's gRPC `SqlQueryResponse` arrow payload
    * (proxy/src/http/sql.rs:27, arrow_payload): schema message,
    * record-batch messages, end-of-stream marker, parseable by any Arrow
    * client (pyarrow/arrow-rs). Errors raise — the transport maps them to
    * its JSON error shape. */
  def handleSqlArrow(engine: TsdbEngine, body: String): Array[Byte] =
    org.apache.spark.sql.GraftBridge.toArrowStream(engine.execute(sqlOf(body)))

  /** POST /opentsdb/api/query — the reference's OpenTSDB query endpoint
    * (http.rs:463-477): runs each subquery and answers the OpenTSDB 2.x
    * response array, one entry per (subquery × group): `metric`, the
    * group's `tags`, `aggregatedTags` (tag keys aggregated away), and
    * `dps` keyed by timestamp string (proxy/src/opentsdb/types.rs:220-233;
    * string keys in a BTreeMap — lexicographic order, reproduced here). */
  def handleOpentsdbQuery(
      resolve: String => graft.promql.PromQL.SeriesTable,
      body: String): String =
    try {
      val q = graft.opentsdb.OpenTsdb.parseQuery(body)
      val arr = mapper.createArrayNode()
      q.queries.zip(graft.opentsdb.OpenTsdb.run(q, resolve)).foreach {
        case (sub, df) =>
          val st = resolve(sub.metric)
          // run() renames the output time/value columns to ts/value
          val tagCols = df.schema.fieldNames
            .filterNot(n => n == "ts" || n == "value")
          val aggregated = st.tags.filterNot(tagCols.contains)
          // group rows by their tag tuple; dps sorted by the STRING key
          val groups = new java.util.LinkedHashMap[
            Seq[String], java.util.TreeMap[String, Double]]()
          df.collect().foreach { r =>
            val key = tagCols.map(c => String.valueOf(r.getAs[Any](c))).toSeq
            val ts = r.getAs[java.sql.Timestamp]("ts").getTime.toString
            val v = r.getAs[Number]("value").doubleValue
            groups.computeIfAbsent(key, _ => new java.util.TreeMap[String, Double]())
              .put(ts, v)
          }
          groups.forEach { (key, dps) =>
            val o = arr.addObject()
            o.put("metric", sub.metric)
            val tags = o.putObject("tags")
            tagCols.zip(key).foreach { case (k, v) => tags.put(k, v) }
            val at = o.putArray("aggregatedTags")
            aggregated.foreach(at.add)
            val d = o.putObject("dps")
            dps.forEach { (k, v) => d.put(k, v) }
          }
      }
      mapper.writeValueAsString(arr)
    } catch { case e: Throwable => errorJson(500, e) }

  /** GET /route/<table> — the reference's route endpoint
    * (proxy/src/http/route.rs:36-67): `{"routes": [{"table": t,
    * "endpoint": {"addr", "port"}}]}`. A single-node engine routes every
    * existing table to itself; an empty/unknown table answers no routes,
    * like the reference's empty-table short-circuit (route.rs:41-43). */
  def handleRoute(engine: TsdbEngine, table: String,
      addr: String, port: Int): String = {
    val out = mapper.createObjectNode()
    val routes = out.putArray("routes")
    if (table.nonEmpty && engine.catalog.exists(table)) {
      val o = routes.addObject()
      o.put("table", table)
      val e = o.putObject("endpoint")
      e.put("addr", addr)
      e.put("port", port)
    }
    mapper.writeValueAsString(out)
  }

  /** POST /influxdb/v1/write with a line-protocol body; empty response on
    * success (the server replies 204). */
  def handleInfluxWrite(engine: TsdbEngine, body: String): String =
    try {
      graft.influx.LineProtocol.ingest(engine, body.split('\n').toSeq)
      ""
    } catch { case e: Throwable => errorJson(500, e) }

  /** POST /opentsdb/api/put with a JSON point or point-array body; empty
    * response on success (the server replies 204). */
  def handleOpentsdbPut(engine: TsdbEngine, body: String): String =
    try {
      graft.opentsdb.OpenTsdb.put(engine, Seq(body))
      ""
    } catch { case e: Throwable => errorJson(500, e) }

  /** GET/POST /influxdb/v1/query?q=...[&epoch=ms|s|u|ns]: the InfluxDB v1
    * `{"results":[{"statement_id":0,"series":[...]}]}` shape. Series split
    * on the statement's GROUP BY tag columns (reference types.rs:387-426);
    * `time` renders RFC3339 UTC without an epoch param, else integer epoch
    * in the requested unit. */
  def handleInfluxQuery(
      engine: TsdbEngine, q: String, epoch: Option[String] = None): String =
    try {
      val df = graft.influx.InfluxQL.run(engine, q)
      val groupTags = parseGroupByTags(q).filter(df.columns.contains)
      val measurement = parseMeasurement(q)

      val root = mapper.createObjectNode()
      val results = root.putArray("results")
      val res0 = results.addObject()
      res0.put("statement_id", 0)

      val rows = df.collect()
      if (rows.nonEmpty) {
        val series = res0.putArray("series")
        val names = df.schema.fieldNames
        val tagIdx: Seq[Int] = groupTags.map(t => names.indexOf(t))
        val valueIdx = names.indices.filterNot(tagIdx.contains)
        // "time" leads the columns like the reference builder
        val ordered = valueIdx.sortBy(i => if (names(i) == "time") 0 else 1)
        val byTags: Map[Seq[String], Array[Row]] =
          rows.groupBy(r => tagIdx.map(i => String.valueOf(r.get(i))))
        byTags.toSeq.sortBy(_._1.mkString("\u0000")).foreach { case (tv, rs) =>
          val s = series.addObject()
          s.put("name", measurement)
          if (groupTags.nonEmpty) {
            val tags = s.putObject("tags")
            groupTags.zip(tv).foreach { case (k, v) => tags.put(k, v) }
          }
          val cols = s.putArray("columns")
          ordered.foreach(i => cols.add(names(i)))
          val values = s.putArray("values")
          rs.foreach { r =>
            val arr = values.addArray()
            ordered.foreach { i =>
              if (names(i) == "time") addTime(arr, r.get(i), epoch)
              else addDatum(arr, r.get(i))
            }
          }
        }
      }
      mapper.writeValueAsString(root)
    } catch { case e: Throwable => errorJson(500, e) }

  /** Prometheus HTTP query API response codec (`GET /api/v1/query_range`):
    * `{"status":"success","data":{"resultType":"matrix","result":[{"metric":
    * {...},"values":[[t, "v"], ...]}]}}`. The reference serves PromQL over
    * gRPC/remote-read; this renders the same evaluation in the HTTP shape
    * every Prometheus client library parses. `__name__` is attached when
    * the expression is a bare selector (aggregations/functions drop it,
    * like Prometheus). Instant queries (`step` == range == one point) use
    * [[handlePromInstant]]. */
  def handlePromRange(
      spark: org.apache.spark.sql.SparkSession,
      resolve: String => graft.promql.PromQL.SeriesTable,
      query: String, p: graft.promql.EvalParams): String =
    try promPayload(
      graft.promql.PromQL.eval(spark, resolve, query, p),
      query, "matrix")
    catch { case e: Throwable => promError(e) }

  /** `GET /api/v1/query` (instant vector at one evaluation timestamp).
    * A top-level RANGE selector (`m{...}[5m]`) answers the raw-sample
    * matrix like Prometheus (integration_tests/prom/remote-query.py). */
  def handlePromInstant(
      spark: org.apache.spark.sql.SparkSession,
      resolve: String => graft.promql.PromQL.SeriesTable,
      query: String, timeMs: Long, lookbackMs: Long = 300000L): String =
    try {
      // decide the result kind from the PARSED expr, not a re-lex of the
      // string — `m[5m] offset 1m` and whitespace variants must take the
      // matrix path too, or the vector rendering silently keeps only the
      // newest raw sample per series
      val kind = graft.promql.PromQL.parse(query) match {
        case graft.promql.VectorSelector(sel)
            if sel.rangeMs.isDefined && sel.atMs.isEmpty => "matrix"
        case _ => "vector"
      }
      promPayload(
        graft.promql.PromQL.eval(spark, resolve, query,
          graft.promql.EvalParams(timeMs, timeMs, 1L, lookbackMs)),
        query, kind)
    } catch { case e: Throwable => promError(e) }

  private def promPayload(df: DataFrame, query: String, kind: String): String = {
    // bare selector → attach __name__ (Prometheus drops it for any
    // function/aggregation). AST-based: offset/@ suffixes and whitespace
    // are selectors too, which a string regex missed.
    val bareMetric: Option[String] =
      try graft.promql.PromQL.parse(query) match {
        case graft.promql.VectorSelector(sel) => Some(sel.metric)
        case _ => None
      } catch { case _: Throwable => None }
    val bareSelector = bareMetric.isDefined
    val metricName = bareMetric.getOrElse("")
    val names = df.schema.fieldNames
    val labelCols = names.filterNot(n => n == "ts" || n == "value")
    val tsIdx = names.indexOf("ts"); val vIdx = names.indexOf("value")

    val root = mapper.createObjectNode()
    root.put("status", "success")
    val data = root.putObject("data")
    data.put("resultType", kind)
    val result = data.putArray("result")
    val byLabels = df.collect()
      .groupBy(r => labelCols.map(c => String.valueOf(r.get(names.indexOf(c)))).toSeq)
    byLabels.toSeq.sortBy(_._1.mkString(" ")).foreach { case (lv, rs) =>
      val o = result.addObject()
      val m = o.putObject("metric")
      if (bareSelector) m.put("__name__", metricName)
      labelCols.zip(lv).foreach { case (k, v) => m.put(k, v) }
      val vals = o.putArray(if (kind == "matrix") "values" else "value")
      val sorted = rs.sortBy(_.getAs[java.sql.Timestamp](tsIdx).getTime)
      def one(parent: ArrayNode, r: Row): Unit = {
        val t = r.getAs[java.sql.Timestamp](tsIdx).getTime
        parent.add(if (t % 1000 == 0) {
          mapper.getNodeFactory.numberNode(t / 1000L).asInstanceOf[com.fasterxml.jackson.databind.JsonNode]
        } else mapper.getNodeFactory.numberNode(t / 1000.0))
        parent.add(formatPromValue(r.getDouble(vIdx)))
      }
      if (kind == "matrix") sorted.foreach { r => one(vals.addArray(), r) }
      else sorted.lastOption.foreach(r => one(vals, r))
    }
    mapper.writeValueAsString(root)
  }

  /** Prometheus stringifies sample values; integral doubles render without
    * the trailing ".0" Java would print (Go's shortest-form float). */
  private def formatPromValue(v: Double): String =
    if (v.isWhole && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  /** `GET /api/v1/labels`: label names across the served metrics — every
    * TAG column of every engine table plus `__name__` (the Prometheus
    * union-of-label-keys semantics). */
  def handlePromLabels(engine: TsdbEngine): String =
    try {
      val labels = ("__name__" +: engine.catalog.list().flatMap(n =>
        engine.catalog.get(n).columns.filter(_.isTag).map(_.name))).distinct.sorted
      promStrings(labels)
    } catch { case e: Throwable => promError(e) }

  /** `GET /api/v1/label/<name>/values`: `__name__` answers the metric
    * (table) names; any other label answers the distinct values of that
    * tag across the tables that declare it (one small distinct per table —
    * label values are bounded by tag cardinality, the protocol contract). */
  def handlePromLabelValues(engine: TsdbEngine, label: String): String =
    try {
      val values =
        if (label == "__name__") engine.catalog.list().sorted
        else engine.catalog.list()
          .filter(n => engine.catalog.get(n).columns.exists(c =>
            c.isTag && c.name == label))
          .flatMap { n =>
            engine.read(n).select(col(label).cast("string")).distinct()
              .collect().map(_.getString(0)).toSeq
          }.distinct.sorted
      promStrings(values)
    } catch { case e: Throwable => promError(e) }

  /** `GET /api/v1/series?match[]=<selector>`: the distinct label sets
    * matching each bare selector `metric{k="v",k2=~"re",...}`. Matchers
    * follow Prometheus semantics (`=`, `!=`, `=~`, `!~`; regexes fully
    * anchored). The scan is a tag-distinct per metric — series-cardinality
    * sized, never sample-sized. */
  def handlePromSeries(engine: TsdbEngine, matches: Seq[String]): String =
    try {
      val root = mapper.createObjectNode()
      root.put("status", "success")
      val data = root.putArray("data")
      matches.foreach { sel =>
        val selRe = """^\s*([a-zA-Z_:][a-zA-Z0-9_:]*)\s*(?:\{(.*)\})?\s*$""".r
        val (metric, body) = sel match {
          case selRe(m, b) => (m, Option(b).getOrElse(""))
          case _ => throw new IllegalArgumentException(s"bad selector: $sel")
        }
        val s = engine.catalog.get(metric)
        val tags = s.columns.filter(_.isTag).map(_.name)
        var df = engine.read(metric)
          .select(tags.map(t => col(t).cast("string").as(t)): _*)
          .distinct()
        if (body.trim.nonEmpty) {
          val mRe = """\s*([a-zA-Z_][a-zA-Z0-9_]*)\s*(=~|!~|!=|=)\s*"((?:[^"\\]|\\.)*)"\s*""".r
          body.split(',').foreach {
            case mRe(k, op, v) =>
              val c = col(k)
              df = df.filter(op match {
                case "="  => c === v
                case "!=" => c =!= v
                case "=~" => c.rlike("^(?:" + v + ")$")
                case "!~" => !c.rlike("^(?:" + v + ")$")
              })
            case other =>
              throw new IllegalArgumentException(s"bad matcher: $other")
          }
        }
        df.collect()
          .map(r => tags.map(t => t -> r.getAs[String](t)).toMap)
          .sortBy(_.toSeq.sortBy(_._1).mkString(","))
          .foreach { labels =>
            val o = data.addObject()
            o.put("__name__", metric)
            labels.toSeq.sortBy(_._1).foreach { case (k, v) => o.put(k, v) }
          }
      }
      mapper.writeValueAsString(root)
    } catch { case e: Throwable => promError(e) }

  private def promStrings(values: Seq[String]): String = {
    val root = mapper.createObjectNode()
    root.put("status", "success")
    val data = root.putArray("data")
    values.foreach(data.add)
    mapper.writeValueAsString(root)
  }

  private def promError(e: Throwable): String = {
    val o = mapper.createObjectNode()
    o.put("status", "error")
    o.put("errorType", "execution")
    o.put("error", Option(e.getMessage).getOrElse(e.toString))
    mapper.writeValueAsString(o)
  }

  /** `POST /admin/block` (reference handlers/admin.rs + http.rs:659):
    * Add/Set/Remove on the limiter's write/read block lists and block
    * rules; answers the resulting state sorted. Rule JSON is serde's
    * adjacently-tagged shape: `{"type":"AnyQuery"}`,
    * `{"type":"QueryRange","content":"24h"}` (ReadableDuration grammar,
    * time_ext/src/lib.rs:278 — concatenated `<number><unit>` segments
    * with units d|h|m|s|ms in strictly DECREASING order, numbers may be
    * fractional: "1h30m", "1.5h", "2d12h30m5s"). */
  def handleAdminBlock(
      engine: graft.engine.TsdbEngine, body: String): String =
    try {
      import graft.engine.Limiter._
      val root = mapper.readTree(body)
      def strings(field: String): Seq[String] = {
        val n = root.get(field)
        if (n == null || !n.isArray) Nil
        else (0 until n.size).map(i => n.get(i).asText())
      }
      // ReadableDuration::from_str (time_ext/src/lib.rs:278): scan for
      // unit chars, each segment is <number><unit>, units must strictly
      // decrease ("1h30m" ok, "30m1h" rejected), numbers parse as floats,
      // the whole string must be consumed, negatives rejected; the
      // accumulated value truncates to whole milliseconds.
      def durationMs(s0: String): Long = {
        val s = s0.trim
        val errMsg = "valid duration, only d, h, m, s, ms are supported."
        if (!s.forall(_ < 128))
          throw new IllegalArgumentException(s"unexpected ascii string: $s")
        var left = s
        var lastUnit = Long.MaxValue
        var dur = 0.0
        var idx = left.indexWhere(c => "dhms".contains(c))
        while (idx >= 0) {
          val (numStr, rest) = left.splitAt(idx)
          val (unitMs, consumed) =
            if (rest.startsWith("ms")) (1L, 2)
            else rest.head match {
              case 'd' => (86400000L, 1)
              case 'h' => (3600000L, 1)
              case 'm' => (60000L, 1)
              case 's' => (1000L, 1)
            }
          if (unitMs >= lastUnit) throw new IllegalArgumentException(
            "d, h, m, s, ms should occur in given order.")
          val n = try numStr.trim.toDouble
            catch { case _: NumberFormatException =>
              throw new IllegalArgumentException(errMsg) }
          dur += n * unitMs
          lastUnit = unitMs
          left = rest.drop(consumed)
          idx = left.indexWhere(c => "dhms".contains(c))
        }
        if (left.nonEmpty) throw new IllegalArgumentException(errMsg)
        if (dur < 0) throw new IllegalArgumentException(
          "duration should be positive.")
        dur.toLong
      }
      def rules(field: String): Seq[BlockRule] = {
        val n = root.get(field)
        if (n == null || !n.isArray) Nil
        else (0 until n.size).map { i =>
          val r = n.get(i)
          r.get("type").asText() match {
            case "QueryWithoutPredicate" => QueryWithoutPredicate
            case "AnyQuery" => AnyQuery
            case "AnyInsert" => AnyInsert
            case "QueryRange" => QueryRange(durationMs(r.get("content").asText()))
            case other => throw new IllegalArgumentException(s"unknown rule: $other")
          }
        }
      }
      val l = engine.limiter
      val (w, r, bs) =
        (strings("write_block_list"), strings("read_block_list"),
          rules("block_rules"))
      Option(root.get("operation")).map(_.asText()).getOrElse("") match {
        case "Add" => l.addWriteBlock(w); l.addReadBlock(r); l.addRules(bs)
        case "Set" => l.setWriteBlock(w); l.setReadBlock(r); l.setRules(bs)
        case "Remove" =>
          l.removeWriteBlock(w); l.removeReadBlock(r); l.removeRules(bs)
        case other =>
          throw new IllegalArgumentException(s"unknown operation: $other")
      }
      val o = mapper.createObjectNode()
      val wa = o.putArray("write_block_list")
      l.writeBlockList.foreach(wa.add)
      val ra = o.putArray("read_block_list")
      l.readBlockList.foreach(ra.add)
      val ba = o.putArray("block_rules")
      l.blockRules.foreach {
        case QueryRange(ms) =>
          val rn = ba.addObject()
          rn.put("type", "QueryRange"); rn.put("content", s"${ms}ms")
        case rule => ba.addObject().put("type", rule.ruleName)
      }
      mapper.writeValueAsString(o)
    } catch { case e: Throwable => errorJson(400, e) }

  // ---- helpers ----------------------------------------------------------

  private def errorJson(code: Int, e: Throwable): String = {
    val o = mapper.createObjectNode()
    o.put("code", code)
    o.put("message", Option(e.getMessage).getOrElse(e.toString))
    mapper.writeValueAsString(o)
  }

  private def parseMeasurement(q: String): String = {
    val m = """(?is)\bFROM\s+"?([\w.]+)"?""".r.findFirstMatchIn(q)
    m.map(_.group(1)).getOrElse("")
  }

  /** Non-time identifiers of the GROUP BY clause (tag split keys). */
  private def parseGroupByTags(q: String): Seq[String] = {
    val gb = """(?is)\bGROUP\s+BY\s+(.*?)(?:\s+fill\s*\(|\s+ORDER\b|\s+LIMIT\b|\s+SLIMIT\b|$)"""
      .r.findFirstMatchIn(q).map(_.group(1)).getOrElse(return Nil)
    gb.split(',').map(_.trim.stripPrefix("\"").stripSuffix("\""))
      .filter(t => t.nonEmpty && !t.toLowerCase.startsWith("time("))
      .toSeq
  }

  private def putDatum(o: ObjectNode, name: String, v: Any): Unit = v match {
    case null => o.putNull(name)
    case t: java.sql.Timestamp => o.put(name, t.getTime)
    case t: java.time.Instant => o.put(name, t.toEpochMilli)
    case d: java.lang.Double => o.put(name, d.doubleValue())
    case f: java.lang.Float => o.put(name, f.floatValue())
    case n: java.lang.Long => o.put(name, n.longValue())
    case n: java.lang.Integer => o.put(name, n.intValue())
    case n: java.lang.Short => o.put(name, n.intValue())
    case n: java.lang.Byte => o.put(name, n.intValue())
    case b: java.lang.Boolean => o.put(name, b.booleanValue())
    case b: Array[Byte] => val a = o.putArray(name); b.foreach(x => a.add(x & 0xff))
    case d: java.sql.Date => o.put(name, d.toString)
    case d: java.time.LocalDate => o.put(name, d.toString)
    case d: java.math.BigDecimal => o.put(name, d)
    case s => o.put(name, s.toString)
  }

  private def addDatum(a: ArrayNode, v: Any): Unit = v match {
    case null => a.addNull()
    case t: java.sql.Timestamp => a.add(t.getTime)
    case t: java.time.Instant => a.add(t.toEpochMilli)
    case d: java.lang.Double => a.add(d.doubleValue())
    case f: java.lang.Float => a.add(f.floatValue())
    case n: java.lang.Long => a.add(n.longValue())
    case n: java.lang.Integer => a.add(n.intValue())
    case b: java.lang.Boolean => a.add(b.booleanValue())
    case d: java.math.BigDecimal => a.add(d)
    case s => a.add(s.toString)
  }

  private val rfc3339 = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
    .withZone(java.time.ZoneOffset.UTC)

  private def addTime(a: ArrayNode, v: Any, epoch: Option[String]): Unit = {
    val millis = v match {
      case t: java.sql.Timestamp => t.getTime
      case t: java.time.Instant => t.toEpochMilli
      case n: java.lang.Long => n.longValue()
      case other => throw new IllegalArgumentException(
        s"unexpected time value: $other")
    }
    epoch match {
      case None => a.add(rfc3339.format(java.time.Instant.ofEpochMilli(millis)))
      case Some("ms") => a.add(millis)
      case Some("s") => a.add(millis / 1000L)
      case Some("u") => a.add(millis * 1000L)
      case Some("ns") => a.add(millis * 1000000L)
      case Some(other) => throw new IllegalArgumentException(
        s"unsupported epoch unit: $other")
    }
  }
}
