package graft.queries

import graft.{GraftQuery, Tables}
import graft.engine.TsdbEngine
import graft.influx.{InfluxQL, LineProtocol}
import graft.opentsdb.OpenTsdb
import graft.promql.PromQL.SeriesTable
import org.apache.spark.sql.functions._

/** OpenTSDB + InfluxQL protocol batteries (SURVEY §2.8). OpenTSDB queries
  * run straight against the events fixture; the InfluxQL queries round-trip
  * the fixture through line-protocol ingest (auto-create + engine write
  * path) before querying, so the oracle checks the whole protocol path.
  */
object Protocols {

  private def eventsTable(s: org.apache.spark.sql.SparkSession, dir: String) =
    (_: String) => SeriesTable(Tables.t(s, dir, "events"), "ts", "value",
      Seq("event_type"))

  /** events rows → line protocol strings → engine ingest; returns engine.
    * Memoized per (session, fixture dir): the InfluxQL semantic queries
    * (fill, subquery, selectors, ...) share one ingested fixture so each
    * times its own semantics — re-running an identical ingest per query
    * would multiply the write path for no extra coverage. q47, the query
    * whose SEMANTICS are the ingest round-trip, deliberately bypasses the
    * memo and ingests fresh; [[warmIngest]] lets Bench pre-build the
    * shared fixture untimed so no alphabetically-first query absorbs it. */
  private val ingestedEvents =
    new java.util.concurrent.ConcurrentHashMap[(Int, String), TsdbEngine]()
  private def ingestEvents(s: org.apache.spark.sql.SparkSession, dir: String): TsdbEngine =
    ingestedEvents.computeIfAbsent((System.identityHashCode(s), dir),
      _ => doIngestEvents(s, dir))

  /** Build the shared ingested fixture outside any timed query. */
  def warmIngest(s: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    ingestEvents(s, dir); ()
  }

  private def doIngestEvents(s: org.apache.spark.sql.SparkSession, dir: String): TsdbEngine = {
    val e = new TsdbEngine(s,
      graft.TempDirs.create("graft-influx").toString)
    val lines = Tables.t(s, dir, "events").select(
      concat(
        lit("events,event_type="), col("event_type"),
        lit(" value="), col("value").cast("string"),
        lit(",user_id="), col("user_id").cast("string"), lit("i"),
        lit(",event_id="), col("event_id").cast("string"), lit("i"),
        lit(" "), (unix_micros(col("ts")) * 1000).cast("string")))
    import s.implicits._
    LineProtocol.ingest(e, lines.as[String])
    e
  }

  val all: Seq[GraftQuery] = Seq(

    // ---- OpenTSDB: sum aggregator, literal_or tag filter, groupBy
    //      (reference opentsdb/mod.rs:104-131,137-203)
    GraftQuery("q45_opentsdb_sum",
      Some("""SELECT event_type, ts, round(sum("value"), 4) AS "value"
             |FROM events
             |WHERE ts >= make_timestamp(1704844800000 * 1000)
             |  AND ts <= make_timestamp(1704931200000 * 1000)
             |  AND event_type IN ('error', 'signup')
             |GROUP BY event_type, ts""".stripMargin),
      (s, dir) => {
        val q = OpenTsdb.parseQuery(
          """{"start": 1704844800000, "end": 1704931200000,
            | "queries": [{"metric": "events", "aggregator": "sum",
            |   "filters": [{"type": "literal_or", "tagk": "event_type",
            |     "filter": "error|signup", "groupBy": true}]}]}""".stripMargin)
        OpenTsdb.runSub(q, q.queries.head, eventsTable(s, dir))
          .withColumn("value", round(col("value"), 4))
      }),

    // ---- OpenTSDB: dev aggregator + not_literal_or, grouped only by time.
    //      The metric binding downsamples ts to the hour (callers choose the
    //      sample grid; the reference parses `downsample` without applying
    //      it, types.rs:36-39) so per-ts groups have real populations.
    GraftQuery("q46_opentsdb_dev",
      Some("""SELECT ts, round(stddev(pv), 4) AS "value" FROM (
             |  SELECT date_trunc('hour', ts) AS ts, "value" AS pv, event_type
             |  FROM events)
             |WHERE ts >= make_timestamp(1704067200000 * 1000)
             |  AND ts <= make_timestamp(1704931200000 * 1000)
             |  AND event_type NOT IN ('error')
             |GROUP BY ts HAVING count(*) >= 2""".stripMargin),
      (s, dir) => {
        val q = OpenTsdb.parseQuery(
          """{"start": 1704067200000, "end": 1704931200000,
            | "queries": [{"metric": "events", "aggregator": "dev",
            |   "filters": [{"type": "not_literal_or", "tagk": "event_type",
            |     "filter": "error", "groupBy": false}]}]}""".stripMargin)
        val hourly = (_: String) => SeriesTable(
          Tables.t(s, dir, "events").withColumn("ts", date_trunc("hour", col("ts"))),
          "ts", "value", Seq("event_type"))
        // single-sample groups: stddev_samp yields NULL (Spark >= 3.1) — and
        // IsNaN(null) is FALSE, so !isnan alone would keep them; the oracle's
        // HAVING count(*) >= 2 drops them
        OpenTsdb.runSub(q, q.queries.head, hourly)
          .filter(col("value").isNotNull && !isnan(col("value")))
          .withColumn("value", round(col("value"), 4))
      }),

    // ---- InfluxQL: line-protocol ingest (auto-create) → aggregate with
    //      GROUP BY time(1d), tag — oracle computes from the source table
    GraftQuery("q47_influx_ingest_groupby_time",
      Some("""SELECT make_timestamp((epoch_ms(ts) // 86400000) * 86400000 * 1000) AS "time",
             |  event_type, count("value") AS n, round(sum("value"), 4) AS total
             |FROM events
             |WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' GROUP BY 1, 2""".stripMargin),
      (s, dir) => {
        // fresh (non-memoized) ingest: this query's semantics ARE the
        // line-protocol round-trip, so it must pay the write path
        val e = doIngestEvents(s, dir)
        val out = InfluxQL.run(e,
          """SELECT count(value) AS n, sum(value) AS total FROM events
            |WHERE time >= '2024-01-05 00:00:00'
            |GROUP BY time(1d), event_type""".stripMargin)
        out.withColumn("total", round(col("total"), 4))
      }),

    // ---- OpenTSDB put ingest round-trip: events rows → /api/put JSON
    //      bodies → auto-create + engine append → SQL aggregate back out
    //      (reference proxy/src/opentsdb/mod.rs:50 handle_opentsdb_put)
    GraftQuery("q49_opentsdb_put",
      // put timestamps are milliseconds (try_to_millis), so the oracle
      // truncates the fixture's ns timestamps to ms before min/max
      Some("""SELECT event_type, count(*) AS n, round(sum("value"), 4) AS total,
             |  min(make_timestamp((epoch_ns(ts) // 1000000) * 1000)) AS first_ts,
             |  max(make_timestamp((epoch_ns(ts) // 1000000) * 1000)) AS last_ts
             |FROM events GROUP BY event_type""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val e = new TsdbEngine(s,
          graft.TempDirs.create("graft-otsdb-put").toString)
        val bodies = Tables.t(s, dir, "events").select(
          to_json(struct(
            lit("events_put").as("metric"),
            unix_millis(col("ts")).as("timestamp"),
            col("value").as("value"),
            struct(col("event_type")).as("tags"))))
        OpenTsdb.put(e, bodies.as[String])
        e.runSql(
          """SELECT event_type, count(*) AS n, round(sum(value), 4) AS total,
            |  min(timestamp) AS first_ts, max(timestamp) AS last_ts
            |FROM events_put GROUP BY event_type""".stripMargin)
      }),

    // ---- OpenTSDB 2.x filter family beyond the reference surface:
    //      regexp (full-match) + iwildcard (case-folded glob), AND-composed
    GraftQuery("q146_opentsdb_filters",
      Some("""SELECT event_type, ts, round(sum("value"), 4) AS "value"
             |FROM events
             |WHERE ts >= make_timestamp(1704844800000 * 1000)
             |  AND ts <= make_timestamp(1704931200000 * 1000)
             |  AND regexp_matches(event_type, '^(?:v.*|err.*)$')
             |  AND lower(event_type) LIKE '%r%'
             |GROUP BY event_type, ts""".stripMargin),
      (s, dir) => {
        val q = OpenTsdb.parseQuery(
          """{"start": 1704844800000, "end": 1704931200000,
            | "queries": [{"metric": "events", "aggregator": "sum",
            |   "filters": [
            |     {"type": "regexp", "tagk": "event_type",
            |      "filter": "v.*|err.*", "groupBy": true},
            |     {"type": "iwildcard", "tagk": "event_type",
            |      "filter": "*R*", "groupBy": false}]}]}""".stripMargin)
        OpenTsdb.runSub(q, q.queries.head, eventsTable(s, dir))
          .withColumn("value", round(col("value"), 4))
      }),

    // ---- OpenTSDB p## percentile aggregators: exact interpolating
    //      percentile per (hour, tag-group)
    GraftQuery("q147_opentsdb_percentile",
      Some("""SELECT event_type, ts, round(quantile_cont(pv, 0.95), 4) AS "value"
             |FROM (SELECT date_trunc('hour', ts) AS ts, event_type, "value" AS pv
             |      FROM events)
             |WHERE ts >= make_timestamp(1704067200000 * 1000)
             |  AND ts <= make_timestamp(1704931200000 * 1000)
             |GROUP BY event_type, ts""".stripMargin),
      (s, dir) => {
        val q = OpenTsdb.parseQuery(
          """{"start": 1704067200000, "end": 1704931200000,
            | "queries": [{"metric": "events", "aggregator": "p95",
            |   "filters": [{"type": "wildcard", "tagk": "event_type",
            |     "filter": "*", "groupBy": true}]}]}""".stripMargin)
        val hourly = (_: String) => SeriesTable(
          Tables.t(s, dir, "events").withColumn("ts", date_trunc("hour", col("ts"))),
          "ts", "value", Seq("event_type"))
        OpenTsdb.runSub(q, q.queries.head, hourly)
          .withColumn("value", round(col("value"), 4))
      }),

    // ---- OpenTSDB downsample + rate opted in together: per-series hourly
    //      max, then dv/dt per second, OpenTSDB 2.x ordering
    GraftQuery("q145_opentsdb_rate",
      Some("""WITH hourly AS (
             |  SELECT date_trunc('hour', ts) AS ts, event_type, max("value") AS v
             |  FROM events GROUP BY 1, 2),
             |r AS (SELECT event_type, ts,
             |    (v - lag(v) OVER w)
             |      / ((epoch_ms(ts) - epoch_ms(lag(ts) OVER w)) / 1000.0) AS rate
             |  FROM hourly
             |  WINDOW w AS (PARTITION BY event_type ORDER BY ts))
             |-- presented as an INTEGER micro-rate (μ-units/s): decimal
             |-- rounding of a raw quotient can land within one ulp of a
             |-- x.xxxx5 boundary, where Spark (exact-value HALF_UP) and
             |-- DuckDB (×10⁴-then-round) legitimately disagree. Scaled to
             |-- integers, every non-boundary value sits ≥ 1/(72k) from
             |-- n+0.5 and the exact n+0.5 cases are exactly-representable
             |-- doubles both engines round half-away identically.
             |SELECT event_type, ts,
             |  CAST(round(rate * 1000000.0, 0) AS BIGINT) AS "value"
             |FROM r WHERE rate IS NOT NULL""".stripMargin),
      (s, dir) => {
        val q = OpenTsdb.parseQuery(
          """{"start": 0,
            | "queries": [{"metric": "events", "aggregator": "sum",
            |   "downsample": "1h-max", "rate": true,
            |   "filters": [{"type": "not_literal_or", "tagk": "event_type",
            |     "filter": "__none__", "groupBy": true}]}]}""".stripMargin)
        OpenTsdb.runSub(q, q.queries.head, eventsTable(s, dir),
            applyDownsample = true, applyRate = true)
          .withColumn("value", round(col("value") * 1000000.0, 0).cast("long"))
      }),

    // ---- OpenTSDB downsample FILL POLICY ("6h-avg-zero", aggregator
    //      none): every 6h bucket between each series' first and last
    //      sample emitted, empty buckets as 0.0 — the aligned-timestamps
    //      contract the cross-series aggregator needs. Oracle re-derives
    //      the per-series grid with generate_series.
    GraftQuery("q276_opentsdb_fill",
      Some("""WITH b AS (
             |  SELECT event_type, make_timestamp(
             |      (epoch_us(ts) // 21600000000) * 21600000000) AS ts,
             |    round(avg("value"), 4) AS v
             |  FROM events WHERE event_type IN ('click', 'error')
             |  GROUP BY 1, 2),
             |r AS (SELECT event_type, min(ts) AS lo, max(ts) AS hi FROM b
             |  GROUP BY 1),
             |g AS (SELECT r.event_type, unnest(generate_series(r.lo, r.hi,
             |    INTERVAL 6 HOUR)) AS ts FROM r)
             |SELECT g.event_type, g.ts, coalesce(b.v, 0.0) AS "value"
             |FROM g LEFT JOIN b USING (event_type, ts)""".stripMargin),
      (s, dir) => {
        val q = OpenTsdb.parseQuery(
          """{"start": 0,
            | "queries": [{"metric": "events", "aggregator": "none",
            |   "downsample": "6h-avg-zero",
            |   "filters": [{"type": "literal_or", "tagk": "event_type",
            |     "filter": "click|error", "groupBy": true}]}]}""".stripMargin)
        OpenTsdb.runSub(q, q.queries.head, eventsTable(s, dir),
            applyDownsample = true)
          .withColumn("value", round(col("value"), 4))
      }),

    // ---- InfluxQL count(DISTINCT()) + integral(): the trapezoid area per
    //      day bucket; oracle replays the lag-window trapezoid with the
    //      same (ts, value) tie-break
    GraftQuery("q129_influx_integral",
      Some("""WITH base AS (
             |  SELECT make_timestamp((epoch_ms(ts) // 86400000) * 86400000 * 1000) AS bt,
             |    event_type, ts, "value", user_id
             |  FROM events WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'),
             |w AS (
             |  SELECT bt, event_type, user_id, "value" AS v,
             |    lag("value") OVER (PARTITION BY bt, event_type ORDER BY ts, "value") AS pv,
             |    epoch_us(ts) - lag(epoch_us(ts))
             |      OVER (PARTITION BY bt, event_type ORDER BY ts, "value") AS dt
             |  FROM base)
             |SELECT bt AS "time", event_type, count(DISTINCT user_id) AS u,
             |  round(sum((v + pv) / 2 * dt / 1000000.0), 4) AS itg
             |FROM w GROUP BY 1, 2""".stripMargin),
      (s, dir) => {
        val e = ingestEvents(s, dir)
        InfluxQL.run(e,
          """SELECT count(distinct(user_id)) AS u, integral(value) AS itg
            |FROM events WHERE time >= '2024-01-05 00:00:00'
            |GROUP BY time(1d), event_type""".stripMargin)
          .withColumn("itg", round(col("itg"), 4))
      }),

    // ---- InfluxQL DISTINCT() selector: one row per distinct value per
    //      day bucket (multi-row selector, not an aggregate)
    GraftQuery("q130_influx_distinct",
      Some("""SELECT DISTINCT
             |  make_timestamp((epoch_ms(ts) // 86400000) * 86400000 * 1000) AS "time",
             |  event_type, user_id AS "distinct"
             |FROM events
             |WHERE ts < TIMESTAMP '2024-01-03 00:00:00'""".stripMargin),
      (s, dir) => {
        val e = ingestEvents(s, dir)
        InfluxQL.run(e,
          """SELECT distinct(user_id) FROM events
            |WHERE time < '2024-01-03 00:00:00'
            |GROUP BY time(1d), event_type""".stripMargin)
      }),

    // ---- InfluxQL top() selector: 3 extreme points per day/tag group,
    //      original point times preserved; row_number oracle
    GraftQuery("q131_influx_top",
      Some("""WITH base AS (
             |  SELECT make_timestamp((epoch_ms(ts) // 86400000) * 86400000 * 1000) AS bt,
             |    event_type, make_timestamp(epoch_us(ts)) AS pt, "value"
             |  FROM events WHERE ts < TIMESTAMP '2024-01-03 00:00:00'),
             |r AS (
             |  SELECT bt, event_type, pt, "value",
             |    row_number() OVER (PARTITION BY bt, event_type
             |      ORDER BY "value" DESC, pt) AS rn
             |  FROM base)
             |SELECT pt AS "time", event_type, "value" AS top
             |FROM r WHERE rn <= 3""".stripMargin),
      (s, dir) => {
        val e = ingestEvents(s, dir)
        InfluxQL.run(e,
          """SELECT top(value, 3) FROM events
            |WHERE time < '2024-01-03 00:00:00'
            |GROUP BY time(1d), event_type""".stripMargin)
      }),

    // ---- InfluxQL elapsed(): integer second spacing between raw points
    //      per series; lag-window oracle with the same (ts, value) ordering
    GraftQuery("q132_influx_elapsed",
      Some("""WITH base AS (
             |  SELECT event_type, make_timestamp(epoch_us(ts)) AS pt, "value"
             |  FROM events WHERE ts < TIMESTAMP '2024-01-02 00:00:00'),
             |w AS (
             |  SELECT event_type, pt,
             |    (epoch_us(pt) - lag(epoch_us(pt))
             |      OVER (PARTITION BY event_type ORDER BY pt, "value")) // 1000000
             |      AS elapsed
             |  FROM base)
             |SELECT event_type, pt AS "time", elapsed
             |FROM w WHERE elapsed IS NOT NULL""".stripMargin),
      (s, dir) => {
        val e = ingestEvents(s, dir)
        InfluxQL.run(e,
          """SELECT elapsed(value, 1s) FROM events
            |WHERE time < '2024-01-02 00:00:00'""".stripMargin)
      }),

    // ---- InfluxQL fill(0): grid materialization over a bounded time range
    //      (the first Grafana-style surface beyond the tested subset); the
    //      oracle rebuilds the 6h grid with generate_series + LEFT JOIN
    GraftQuery("q68_influx_fill",
      Some("""WITH grid AS (
             |  SELECT unnest(generate_series(TIMESTAMP '2024-01-05 00:00:00',
             |    TIMESTAMP '2024-01-11 18:00:00', INTERVAL 6 HOUR)) AS "time"),
             |agg AS (
             |  SELECT make_timestamp((epoch_ms(ts) // 21600000) * 21600000 * 1000) AS "time",
             |    count("value") AS n, round(sum("value"), 4) AS total
             |  FROM events
             |  WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
             |    AND ts < TIMESTAMP '2024-01-12 00:00:00'
             |    AND event_type = 'error'
             |  GROUP BY 1)
             |SELECT g."time", coalesce(n, 0) AS n, coalesce(total, 0.0) AS total
             |FROM grid g LEFT JOIN agg a ON g."time" = a."time"""".stripMargin),
      (s, dir) => {
        val e = ingestEvents(s, dir)
        InfluxQL.run(e,
          """SELECT count(value) AS n, sum(value) AS total FROM events
            |WHERE time >= '2024-01-05 00:00:00' AND time < '2024-01-12 00:00:00'
            |  AND event_type = 'error'
            |GROUP BY time(6h) fill(0)""".stripMargin)
          .withColumn("total", round(col("total"), 4))
      }),

    // ---- InfluxQL: SHOW FIELD KEYS (IOx planner surface) — the ingested
    //      events measurement derives exactly these typed fields
    GraftQuery("q90_influx_show_field_keys",
      Some("""SELECT 'events' AS "iox::measurement", 'event_id' AS "fieldKey",
             |  'integer' AS "fieldType"
             |UNION ALL SELECT 'events', 'user_id', 'integer'
             |UNION ALL SELECT 'events', 'value', 'float'""".stripMargin),
      (s, dir) => InfluxQL.run(ingestEvents(s, dir), "SHOW FIELD KEYS FROM events")),

    // ---- InfluxQL transformations over the aggregated grid (IOx planner
    //      surface; the Grafana rate-panel shape): derivative of 6h maxima.
    //      Inner aggregate is max (order-independent) so both engines see
    //      bit-identical inputs — same determinism note as q76; the mean
    //      shape is unit-tested exactly in ProtocolsSpec
    GraftQuery("q88_influx_derivative",
      Some("""WITH agg AS (
             |  SELECT make_timestamp((epoch_ms(ts) // 21600000) * 21600000 * 1000) AS "time",
             |    event_type, max("value") AS m
             |  FROM events
             |  WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
             |    AND ts < TIMESTAMP '2024-01-12 00:00:00'
             |  GROUP BY 1, 2),
             |d AS (
             |  SELECT event_type, "time", m, lag(m) OVER w AS pm, lag("time") OVER w AS pt
             |  FROM agg WINDOW w AS (PARTITION BY event_type ORDER BY "time"))
             |SELECT event_type, "time",
             |  round((m - pm) / ((epoch_us("time") - epoch_us(pt)) / 3600e6), 4) AS d
             |FROM d WHERE pm IS NOT NULL
             |  AND (m - pm) / ((epoch_us("time") - epoch_us(pt)) / 3600e6) >= 0""".stripMargin),
      (s, dir) => {
        val e = ingestEvents(s, dir)
        InfluxQL.run(e,
          """SELECT non_negative_derivative(max(value), 1h) AS d FROM events
            |WHERE time >= '2024-01-05 00:00:00' AND time < '2024-01-12 00:00:00'
            |GROUP BY time(6h), event_type""".stripMargin)
          .withColumn("d", round(col("d"), 4))
      }),

    // ---- moving_average(mean, 4): emitted from the 4th bucket per series
    GraftQuery("q89_influx_moving_average",
      Some("""WITH agg AS (
             |  SELECT make_timestamp((epoch_ms(ts) // 21600000) * 21600000 * 1000) AS "time",
             |    event_type, max("value") AS m
             |  FROM events
             |  WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
             |    AND ts < TIMESTAMP '2024-01-12 00:00:00'
             |  GROUP BY 1, 2)
             |SELECT event_type, "time", round(avg(m) OVER w, 4) AS ma
             |FROM agg
             |WINDOW w AS (PARTITION BY event_type ORDER BY "time"
             |  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
             |QUALIFY count(m) OVER w = 4""".stripMargin),
      (s, dir) => {
        val e = ingestEvents(s, dir)
        InfluxQL.run(e,
          """SELECT moving_average(max(value), 4) AS ma FROM events
            |WHERE time >= '2024-01-05 00:00:00' AND time < '2024-01-12 00:00:00'
            |GROUP BY time(6h), event_type""".stripMargin)
          .withColumn("ma", round(col("ma"), 4))
      }),

    // ---- InfluxQL statistical selectors: median (interpolating) /
    //      spread / stddev per day+series
    GraftQuery("q97_influx_median_spread",
      Some("""SELECT make_timestamp((epoch_ms(ts) // 86400000) * 86400000 * 1000) AS "time",
             |  event_type, round(quantile_cont("value", 0.5), 4) AS med,
             |  round(max("value") - min("value"), 4) AS spr,
             |  round(stddev("value"), 4) AS sd
             |FROM events
             |WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' GROUP BY 1, 2""".stripMargin),
      (s, dir) => {
        val e = ingestEvents(s, dir)
        val out = InfluxQL.run(e,
          """SELECT median(value) AS med, spread(value) AS spr, stddev(value) AS sd
            |FROM events WHERE time >= '2024-01-05 00:00:00'
            |GROUP BY time(1d), event_type""".stripMargin)
        out.withColumn("med", round(col("med"), 4))
          .withColumn("spr", round(col("spr"), 4))
          .withColumn("sd", round(col("sd"), 4))
      }),

    // ---- InfluxQL percentile (nearest-rank ⌊n·p/100+0.5⌋, InfluxDB
    //      PercentileReduceSlice) + mode (most frequent, lowest on ties)
    GraftQuery("q109_influx_percentile_mode",
      Some("""WITH base AS (
             |  SELECT make_timestamp((epoch_ms(ts) // 86400000) * 86400000 * 1000) AS "time",
             |    event_type, "value", user_id
             |  FROM events WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'),
             |p AS (
             |  SELECT "time", event_type,
             |    round((list_sort(list("value")))[CAST(floor(count(*) * 0.9 + 0.5) AS INT)], 4) AS p90
             |  FROM base GROUP BY 1, 2),
             |mc AS (
             |  SELECT "time", event_type, user_id, count(*) AS n
             |  FROM base GROUP BY 1, 2, 3),
             |mr AS (
             |  SELECT "time", event_type, user_id,
             |    row_number() OVER (PARTITION BY "time", event_type
             |      ORDER BY n DESC, user_id) AS rk
             |  FROM mc)
             |SELECT p."time", p.event_type, p.p90, mr.user_id AS mu
             |FROM p JOIN mr ON p."time" = mr."time" AND p.event_type = mr.event_type
             |WHERE mr.rk = 1""".stripMargin),
      (s, dir) => {
        val e = ingestEvents(s, dir)
        InfluxQL.run(e,
          """SELECT percentile(value, 90) AS p90, mode(user_id) AS mu
            |FROM events WHERE time >= '2024-01-05 00:00:00'
            |GROUP BY time(1d), event_type""".stripMargin)
          .withColumn("p90", round(col("p90"), 4))
      }),

    // ---- ORDER BY time DESC + LIMIT: the last n buckets, newest first
    //      (default fill(null) keeps empty buckets in the count)
    GraftQuery("q110_influx_order_desc",
      Some("""WITH agg AS (
             |  SELECT make_timestamp((epoch_ms(ts) // 3600000) * 3600000 * 1000) AS "time",
             |    round(max("value"), 4) AS hi
             |  FROM events GROUP BY 1),
             |grid AS (
             |  SELECT unnest(generate_series((SELECT min("time") FROM agg),
             |    (SELECT max("time") FROM agg), INTERVAL 1 HOUR)) AS "time")
             |SELECT g."time", a.hi FROM grid g LEFT JOIN agg a USING ("time")
             |ORDER BY g."time" DESC LIMIT 5""".stripMargin),
      (s, dir) => {
        val e = ingestEvents(s, dir)
        InfluxQL.run(e,
          """SELECT max(value) AS hi FROM events
            |GROUP BY time(1h) ORDER BY time DESC LIMIT 5""".stripMargin)
          .withColumn("hi", round(col("hi"), 4))
      }),

    // ---- TZ clause: day buckets truncate at America/Los_Angeles midnight
    //      (UTC-8 across the January window — the oracle shifts by 8h)
    GraftQuery("q111_influx_tz",
      Some("""WITH base AS (
             |  SELECT make_timestamp((((epoch_ms(ts) - 28800000) // 86400000)
             |      * 86400000 + 28800000) * 1000) AS "time",
             |    event_type, "value"
             |  FROM events
             |  WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
             |    AND ts < TIMESTAMP '2024-01-12 00:00:00'),
             |agg AS (
             |  SELECT "time", event_type, count("value") AS n,
             |    round(max("value"), 4) AS hi
             |  FROM base GROUP BY 1, 2),
             |grid AS (
             |  SELECT g.g AS "time", e.event_type
             |  FROM (SELECT unnest(generate_series(TIMESTAMP '2024-01-04 08:00:00',
             |    TIMESTAMP '2024-01-11 08:00:00', INTERVAL 1 DAY)) AS g) g
             |  CROSS JOIN (SELECT DISTINCT event_type FROM base) e)
             |SELECT g."time", g.event_type, a.n, a.hi
             |FROM grid g LEFT JOIN agg a
             |  ON g."time" = a."time" AND g.event_type = a.event_type""".stripMargin),
      (s, dir) => {
        val e = ingestEvents(s, dir)
        InfluxQL.run(e,
          """SELECT count(value) AS n, max(value) AS hi FROM events
            |WHERE time >= '2024-01-05 00:00:00' AND time < '2024-01-12 00:00:00'
            |GROUP BY time(1d), event_type TZ('America/Los_Angeles')""".stripMargin)
          .withColumn("hi", round(col("hi"), 4))
      }),

    // ---- SHOW SERIES: stored series keys in line-protocol form
    GraftQuery("q151_influx_show_series",
      Some("""SELECT DISTINCT 'events,event_type=' || event_type AS key
             |FROM events""".stripMargin),
      (s, dir) => {
        val e = ingestEvents(s, dir)
        InfluxQL.run(e, "SHOW SERIES FROM events")
      }),

    // ---- SHOW ... CARDINALITY family: exact series/tag-value counts
    //      (InfluxDB's EXACT variants; the estimate-by-default sketch is
    //      pointless when the distinct is this cheap). Series count is a
    //      tag-combo distinct — never the point count.
    GraftQuery("q221_influx_cardinality",
      Some("""SELECT 'events' AS "iox::measurement",
             |  count(DISTINCT event_type)::BIGINT AS count, 'series' AS what
             |FROM events
             |UNION ALL
             |SELECT 'events', count(DISTINCT event_type)::BIGINT, 'tag_values'
             |FROM events
             |UNION ALL
             |SELECT 'events', 1, 'tag_keys'""".stripMargin),
      (s, dir) => {
        val e = ingestEvents(s, dir)
        def tag(df: org.apache.spark.sql.DataFrame, what: String) =
          df.withColumn("what", lit(what))
        tag(InfluxQL.run(e, "SHOW SERIES CARDINALITY FROM events"), "series")
          .unionAll(tag(InfluxQL.run(e,
            "SHOW TAG VALUES CARDINALITY FROM events WITH KEY = event_type"),
            "tag_values"))
          .unionAll(tag(InfluxQL.run(e, "SHOW TAG KEY CARDINALITY FROM events"),
            "tag_keys"))
      }),

    // ---- holt_winters_with_fit: additive Holt-Winters (α=β=γ=0.5, S=4
    //      season) over the hourly-max grid — in-sample one-step fits plus
    //      3 forecast buckets past each series' last point. The oracle
    //      carries ALL THREE recurrence states (level, trend, seasonal
    //      LIST) in ONE recursive CTE (a recursive CTE per state that
    //      re-reads another recursive CTE runs in quadratic time in
    //      DuckDB) with the exact expression shapes of
    //      TaStream.HoltWinters, so values are bit-identical; presented as
    //      integer ×10⁴ (q145 convention).
    GraftQuery("q156_influx_holt_winters",
      Some("""WITH RECURSIVE hourly AS (
             |  SELECT make_timestamp((epoch_ms(ts) // 3600000) * 3600000 * 1000) AS "time",
             |    event_type, max("value") AS m
             |  FROM events GROUP BY 1, 2),
             |o AS (SELECT event_type, "time", m,
             |    row_number() OVER (PARTITION BY event_type ORDER BY "time") AS rn
             |  FROM hourly),
             |rec AS (
             |  SELECT event_type, rn, m AS l, CAST(0.0 AS DOUBLE) AS b,
             |    [0.0, 0.0, 0.0, 0.0]::DOUBLE[] AS s, CAST(NULL AS DOUBLE) AS fit
             |  FROM o WHERE rn = 1
             |  UNION ALL
             |  SELECT event_type, rn, l2 AS l,
             |    0.5 * (l2 - l1) + 0.5 * b1 AS b,
             |    s1[: idx - 1] || [0.5 * (x - l2) + 0.5 * s1[idx]] || s1[idx + 1 :] AS s,
             |    l1 + b1 + s1[idx] AS fit
             |  FROM (
             |    SELECT o.event_type, o.rn, o.m AS x, rec.l AS l1, rec.b AS b1,
             |      rec.s AS s1, ((o.rn - 1) % 4) + 1 AS idx,
             |      0.5 * (o.m - rec.s[((o.rn - 1) % 4) + 1]) + 0.5 * (rec.l + rec.b) AS l2
             |    FROM rec JOIN o ON o.event_type = rec.event_type AND o.rn = rec.rn + 1)),
             |fits AS (
             |  SELECT r.event_type, o."time",
             |    CAST(round(r.fit * 10000.0, 0) AS BIGINT) AS hw
             |  FROM rec r JOIN o USING (event_type, rn) WHERE r.fit IS NOT NULL),
             |mx AS (SELECT event_type, max(rn) AS mrn, max("time") AS tlast
             |  FROM o GROUP BY 1),
             |fc AS (
             |  SELECT t.event_type, t.tlast + (g.h * INTERVAL 1 HOUR) AS "time",
             |    CAST(round((t.l + g.h * t.b +
             |      t.s[((t.mrn - 1 + g.h) % 4) + 1]) * 10000.0, 0) AS BIGINT) AS hw
             |  FROM (SELECT r.*, mx.mrn, mx.tlast FROM rec r
             |        JOIN mx ON r.event_type = mx.event_type AND r.rn = mx.mrn) t,
             |    unnest(generate_series(1, 3)) AS g(h))
             |SELECT * FROM fits UNION ALL SELECT * FROM fc""".stripMargin),
      (s, dir) => {
        val e = ingestEvents(s, dir)
        InfluxQL.run(e,
          """SELECT holt_winters_with_fit(max(value), 3, 4) AS hw FROM events
            |GROUP BY time(1h), event_type fill(none)""".stripMargin)
          .withColumn("hw", round(col("hw") * 10000.0, 0).cast("long"))
      }),

    // ---- SELECT INTO round-trip: daily maxima materialized into a new
    //      engine table (auto-create, tags preserved), read back raw
    GraftQuery("q150_influx_into",
      Some("""SELECT make_timestamp((epoch_ms(ts) // 86400000) * 86400000 * 1000) AS "time",
             |  event_type, round(max("value"), 4) AS mx
             |FROM events GROUP BY 1, 2""".stripMargin),
      (s, dir) => {
        val e = ingestEvents(s, dir)
        InfluxQL.run(e,
          """SELECT max(value) AS mx INTO events_daily_into FROM events
            |GROUP BY time(1d), event_type fill(none)""".stripMargin).collect()
        InfluxQL.run(e, "SELECT * FROM events_daily_into")
          .withColumn("mx", round(col("mx"), 4))
      }),

    // ---- WHERE OR-group AND time bound: mixed literal + regex disjunction
    GraftQuery("q149_influx_or_where",
      Some("""SELECT make_timestamp((epoch_ms(ts) // 86400000) * 86400000 * 1000) AS "time",
             |  event_type, count("value") AS n
             |FROM events
             |WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
             |  AND (event_type = 'click' OR regexp_matches(event_type, 'err'))
             |GROUP BY 1, 2""".stripMargin),
      (s, dir) => {
        val e = ingestEvents(s, dir)
        InfluxQL.run(e,
          """SELECT count(value) AS n FROM events
            |WHERE time >= '2024-01-05 00:00:00'
            |  AND (event_type = 'click' OR event_type =~ /err/)
            |GROUP BY time(1d), event_type fill(none)""".stripMargin)
      }),

    // ---- GROUP BY * + regex tag matcher: the Grafana per-series shape
    //      (unanchored =~, every tag in the group key)
    GraftQuery("q148_influx_star_regex",
      Some("""SELECT make_timestamp((epoch_ms(ts) // 86400000) * 86400000 * 1000) AS "time",
             |  event_type, count("value") AS n, round(max("value"), 4) AS mx
             |FROM events
             |WHERE regexp_matches(event_type, '(click|view|err)')
             |GROUP BY 1, 2""".stripMargin),
      (s, dir) => {
        val e = ingestEvents(s, dir)
        InfluxQL.run(e,
          """SELECT count(value) AS n, max(value) AS mx FROM events
            |WHERE event_type =~ /(click|view|err)/
            |GROUP BY time(1d), * fill(none)""".stripMargin)
          .withColumn("mx", round(col("mx"), 4))
      }),

    // ---- exponential_moving_average over the hourly grid: sequential
    //      per-series recurrence (SMA-seeded, α = 2/(N+1)); the oracle
    //      replays the exact recurrence with a recursive CTE
    GraftQuery("q141_influx_ema",
      Some("""WITH RECURSIVE hourly AS (
             |  SELECT make_timestamp((epoch_ms(ts) // 3600000) * 3600000 * 1000) AS "time",
             |    event_type, max("value") AS m
             |  FROM events GROUP BY 1, 2),
             |o AS (SELECT event_type, "time", m,
             |    row_number() OVER (PARTITION BY event_type ORDER BY "time") AS rn
             |  FROM hourly),
             |s AS (SELECT event_type, rn, m,
             |    avg(m) OVER (PARTITION BY event_type ORDER BY rn
             |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS sma
             |  FROM o),
             |rec AS (
             |  SELECT event_type, rn, sma AS ema FROM s WHERE rn = 4
             |  UNION ALL
             |  SELECT o.event_type, o.rn, (2.0/5) * o.m + (1 - 2.0/5) * rec.ema
             |  FROM rec JOIN o ON o.event_type = rec.event_type AND o.rn = rec.rn + 1)
             |SELECT o.event_type, o."time", round(rec.ema, 4) AS ema
             |FROM rec JOIN o USING (event_type, rn)""".stripMargin),
      (s, dir) => {
        val e = ingestEvents(s, dir)
        InfluxQL.run(e,
          """SELECT exponential_moving_average(max(value), 4) AS ema
            |FROM events GROUP BY time(1h), event_type fill(none)""".stripMargin)
          .withColumn("ema", round(col("ema"), 4))
      }),

    // ---- Chande momentum + Kaufman efficiency over the hourly grid:
    //      window algebra over the last-6 diffs (Σd, Σ|d|), two transform
    //      projections in one SELECT
    GraftQuery("q142_influx_cmo_ker",
      Some("""WITH hourly AS (
             |  SELECT make_timestamp((epoch_ms(ts) // 3600000) * 3600000 * 1000) AS "time",
             |    event_type, max("value") AS m
             |  FROM events GROUP BY 1, 2),
             |d AS (SELECT event_type, "time",
             |    m - lag(m) OVER (PARTITION BY event_type ORDER BY "time") AS d
             |  FROM hourly),
             |wnd AS (SELECT event_type, "time",
             |    sum(d) OVER w AS sd, sum(abs(d)) OVER w AS sa,
             |    count(d) OVER w AS c
             |  FROM d
             |  WINDOW w AS (PARTITION BY event_type ORDER BY "time"
             |    ROWS BETWEEN 5 PRECEDING AND CURRENT ROW))
             |SELECT event_type, "time",
             |  round(100 * sd / sa, 4) AS cmo, round(abs(sd) / sa, 4) AS ker
             |FROM wnd WHERE c = 6 AND sa <> 0""".stripMargin),
      (s, dir) => {
        val e = ingestEvents(s, dir)
        InfluxQL.run(e,
          """SELECT chande_momentum_oscillator(max(value), 6) AS cmo,
            |  kaufmans_efficiency_ratio(max(value), 6) AS ker
            |FROM events GROUP BY time(1h), event_type fill(none)""".stripMargin)
          .withColumn("cmo", round(col("cmo"), 4))
          .withColumn("ker", round(col("ker"), 4))
      }),

    // ---- double_exponential_moving_average over the hourly grid: DEMA =
    //      2·E1 − E2; the oracle chains two recursive CTEs, the second
    //      recursing over the first's output
    GraftQuery("q144_influx_dema",
      Some("""WITH RECURSIVE hourly AS (
             |  SELECT make_timestamp((epoch_ms(ts) // 3600000) * 3600000 * 1000) AS "time",
             |    event_type, max("value") AS m
             |  FROM events GROUP BY 1, 2),
             |o AS (SELECT event_type, "time", m,
             |    row_number() OVER (PARTITION BY event_type ORDER BY "time") AS rn
             |  FROM hourly),
             |s1 AS (SELECT event_type, rn, m,
             |    avg(m) OVER w AS sma FROM o
             |  WINDOW w AS (PARTITION BY event_type ORDER BY rn
             |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)),
             |-- ONE recursion carrying both EMA states: e1 advances every
             |-- step; acc2 accumulates e1 for E2's SMA seed (rn 4..7), e2
             |-- seeds at rn=7 and then runs its own recurrence over e1 —
             |-- recursion-over-recursion re-evaluates the inner CTE per
             |-- step (quadratic), this stays linear
             |rec AS (
             |  SELECT event_type, rn, sma AS e1, sma AS acc2,
             |    CAST(NULL AS DOUBLE) AS e2
             |  FROM s1 WHERE rn = 4
             |  UNION ALL
             |  SELECT o.event_type, o.rn,
             |    (2.0/5) * o.m + (1 - 2.0/5) * rec.e1,
             |    CASE WHEN o.rn <= 7
             |      THEN rec.acc2 + ((2.0/5) * o.m + (1 - 2.0/5) * rec.e1)
             |      ELSE rec.acc2 END,
             |    CASE WHEN o.rn = 7
             |      THEN (rec.acc2 + ((2.0/5) * o.m + (1 - 2.0/5) * rec.e1)) / 4
             |      WHEN o.rn > 7
             |      THEN (2.0/5) * ((2.0/5) * o.m + (1 - 2.0/5) * rec.e1)
             |           + (1 - 2.0/5) * rec.e2
             |    END
             |  FROM rec JOIN o ON o.event_type = rec.event_type
             |    AND o.rn = rec.rn + 1)
             |SELECT o.event_type, o."time", round(2 * rec.e1 - rec.e2, 4) AS dema
             |FROM rec JOIN o USING (event_type, rn)
             |WHERE rec.e2 IS NOT NULL""".stripMargin),
      (s, dir) => {
        val e = ingestEvents(s, dir)
        InfluxQL.run(e,
          """SELECT double_exponential_moving_average(max(value), 4) AS dema
            |FROM events GROUP BY time(1h), event_type fill(none)""".stripMargin)
          .withColumn("dema", round(col("dema"), 4))
      }),

    // ---- kaufmans_adaptive_moving_average: the adaptive-α recurrence
    //      (TaStream.Kama). Windowed ER/SC in plain window algebra, then
    //      a recursive CTE carrying only kama — the recurrence is a
    //      contraction, so cross-engine window-sum ulps decay under the
    //      round(4) presentation.
    GraftQuery("q271_influx_kama",
      Some("""WITH RECURSIVE hourly AS (
             |  SELECT make_timestamp((epoch_ms(ts) // 3600000) * 3600000 * 1000) AS "time",
             |    event_type, max("value") AS m
             |  FROM events GROUP BY 1, 2),
             |o AS (SELECT event_type, "time", m,
             |    row_number() OVER (PARTITION BY event_type ORDER BY "time") AS rn
             |  FROM hourly),
             |w AS (SELECT event_type, rn, m,
             |    first_value(m) OVER wn AS oldest,
             |    sum(abs(d)) OVER wd AS den
             |  FROM (SELECT *, m - lag(m) OVER (PARTITION BY event_type ORDER BY rn) AS d
             |        FROM o)
             |  WINDOW wn AS (PARTITION BY event_type ORDER BY rn
             |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
             |  wd AS (PARTITION BY event_type ORDER BY rn
             |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)),
             |sc AS (SELECT event_type, rn, m,
             |    CASE WHEN den IS NULL OR den = 0
             |      THEN (0.0 * (2.0/3 - 2.0/31) + 2.0/31)
             |      ELSE (abs(m - oldest) / den * (2.0/3 - 2.0/31) + 2.0/31)
             |    END AS s
             |  FROM w),
             |rec AS (
             |  SELECT event_type, rn, m AS kama FROM sc WHERE rn = 1
             |  UNION ALL
             |  SELECT s.event_type, s.rn,
             |    rec.kama + (s.s * s.s) * (s.m - rec.kama)
             |  FROM rec JOIN sc s ON s.event_type = rec.event_type
             |    AND s.rn = rec.rn + 1)
             |SELECT o.event_type, o."time", round(rec.kama, 4) AS kama
             |FROM rec JOIN o USING (event_type, rn)
             |WHERE rn >= 5""".stripMargin),
      (s, dir) => {
        val e = ingestEvents(s, dir)
        InfluxQL.run(e,
          """SELECT kaufmans_adaptive_moving_average(max(value), 4) AS kama
            |FROM events GROUP BY time(1h), event_type fill(none)""".stripMargin)
          .withColumn("kama", round(col("kama"), 4))
      }),

    // ---- triple_exponential_derivative (TRIX): 100·Δe3/e3' over the
    //      triple-smoothed EMA chain (TaStream.Trix). One recursion
    //      carries all three chained EMA states (the q144 pattern, one
    //      stage deeper); the percentage change is a lag over the
    //      recursion's e3 column.
    GraftQuery("q272_influx_trix",
      Some("""WITH RECURSIVE hourly AS (
             |  SELECT make_timestamp((epoch_ms(ts) // 3600000) * 3600000 * 1000) AS "time",
             |    event_type, max("value") AS m
             |  FROM events GROUP BY 1, 2),
             |o AS (SELECT event_type, "time", m,
             |    row_number() OVER (PARTITION BY event_type ORDER BY "time") AS rn
             |  FROM hourly),
             |s1 AS (SELECT event_type, rn, m,
             |    avg(m) OVER w AS sma FROM o
             |  WINDOW w AS (PARTITION BY event_type ORDER BY rn
             |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)),
             |rec AS (
             |  SELECT event_type, rn, sma AS e1, sma AS acc2,
             |    CAST(NULL AS DOUBLE) AS e2, CAST(NULL AS DOUBLE) AS acc3,
             |    CAST(NULL AS DOUBLE) AS e3
             |  FROM s1 WHERE rn = 4
             |  UNION ALL
             |  SELECT o.event_type, o.rn,
             |    (2.0/5) * o.m + (1 - 2.0/5) * rec.e1,
             |    CASE WHEN o.rn <= 7
             |      THEN rec.acc2 + ((2.0/5) * o.m + (1 - 2.0/5) * rec.e1)
             |      ELSE rec.acc2 END,
             |    CASE WHEN o.rn = 7
             |      THEN (rec.acc2 + ((2.0/5) * o.m + (1 - 2.0/5) * rec.e1)) / 4
             |      WHEN o.rn > 7
             |      THEN (2.0/5) * ((2.0/5) * o.m + (1 - 2.0/5) * rec.e1)
             |           + (1 - 2.0/5) * rec.e2
             |    END,
             |    CASE WHEN o.rn = 7
             |      THEN (rec.acc2 + ((2.0/5) * o.m + (1 - 2.0/5) * rec.e1)) / 4
             |      WHEN o.rn > 7 AND o.rn <= 10
             |      THEN rec.acc3 + ((2.0/5) * ((2.0/5) * o.m + (1 - 2.0/5) * rec.e1)
             |           + (1 - 2.0/5) * rec.e2)
             |      ELSE rec.acc3 END,
             |    CASE WHEN o.rn = 10
             |      THEN (rec.acc3 + ((2.0/5) * ((2.0/5) * o.m + (1 - 2.0/5) * rec.e1)
             |           + (1 - 2.0/5) * rec.e2)) / 4
             |      WHEN o.rn > 10
             |      THEN (2.0/5) * ((2.0/5) * ((2.0/5) * o.m + (1 - 2.0/5) * rec.e1)
             |           + (1 - 2.0/5) * rec.e2) + (1 - 2.0/5) * rec.e3
             |    END
             |  FROM rec JOIN o ON o.event_type = rec.event_type
             |    AND o.rn = rec.rn + 1)
             |SELECT event_type, "time", round(trix, 4) AS trix FROM (
             |  SELECT o.event_type, o."time", rec.rn,
             |    CASE WHEN lag(rec.e3) OVER (PARTITION BY rec.event_type
             |        ORDER BY rec.rn) = 0 THEN 0.0
             |      ELSE 100 * (rec.e3 - lag(rec.e3) OVER (PARTITION BY rec.event_type
             |        ORDER BY rec.rn)) / lag(rec.e3) OVER (PARTITION BY rec.event_type
             |        ORDER BY rec.rn) END AS trix
             |  FROM rec JOIN o USING (event_type, rn)
             |  WHERE rec.e3 IS NOT NULL)
             |WHERE trix IS NOT NULL AND rn >= 11""".stripMargin),
      (s, dir) => {
        val e = ingestEvents(s, dir)
        InfluxQL.run(e,
          """SELECT triple_exponential_derivative(max(value), 4) AS trix
            |FROM events GROUP BY time(1h), event_type fill(none)""".stripMargin)
          .withColumn("trix", round(col("trix"), 4))
      }),

    // ---- relative_strength_index over the hourly grid: Wilder's coupled
    //      gain/loss recurrences, replayed by a recursive CTE carrying
    //      both running averages
    GraftQuery("q143_influx_rsi",
      Some("""WITH RECURSIVE hourly AS (
             |  SELECT make_timestamp((epoch_ms(ts) // 3600000) * 3600000 * 1000) AS "time",
             |    event_type, max("value") AS m
             |  FROM events GROUP BY 1, 2),
             |o AS (SELECT event_type, "time", m,
             |    row_number() OVER (PARTITION BY event_type ORDER BY "time") AS rn
             |  FROM hourly),
             |d AS (SELECT event_type, rn,
             |    greatest(m - lag(m) OVER (PARTITION BY event_type ORDER BY rn), 0) AS up,
             |    greatest(lag(m) OVER (PARTITION BY event_type ORDER BY rn) - m, 0) AS down
             |  FROM o),
             |s AS (SELECT event_type, rn,
             |    avg(up) OVER w AS au, avg(down) OVER w AS ad
             |  FROM d WHERE rn >= 2
             |  WINDOW w AS (PARTITION BY event_type ORDER BY rn
             |    ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)),
             |rec AS (
             |  SELECT event_type, rn, au, ad FROM s WHERE rn = 7
             |  UNION ALL
             |  SELECT d.event_type, d.rn,
             |    (rec.au * 5 + d.up) / 6, (rec.ad * 5 + d.down) / 6
             |  FROM rec JOIN d ON d.event_type = rec.event_type
             |    AND d.rn = rec.rn + 1)
             |SELECT o.event_type, o."time",
             |  round(CASE WHEN rec.ad = 0 AND rec.au = 0 THEN 50
             |        WHEN rec.ad = 0 THEN 100
             |        ELSE 100 - 100 / (1 + rec.au / rec.ad) END, 4) AS rsi
             |FROM rec JOIN o USING (event_type, rn)""".stripMargin),
      (s, dir) => {
        val e = ingestEvents(s, dir)
        InfluxQL.run(e,
          """SELECT relative_strength_index(max(value), 6) AS rsi
            |FROM events GROUP BY time(1h), event_type fill(none)""".stripMargin)
          .withColumn("rsi", round(col("rsi"), 4))
      }),

    // ---- GROUP BY time(interval, offset): preset bucket boundaries
    //      shifted by 30m — the Grafana bucket-alignment knob
    GraftQuery("q138_influx_time_offset",
      Some("""SELECT make_timestamp((((epoch_ms(ts) - 1800000) // 3600000) * 3600000
             |    + 1800000) * 1000) AS "time",
             |  event_type, round(max("value"), 4) AS m
             |FROM events GROUP BY 1, 2""".stripMargin),
      (s, dir) => {
        val e = ingestEvents(s, dir)
        InfluxQL.run(e,
          "SELECT max(value) AS m FROM events GROUP BY time(1h, 30m), event_type fill(none)")
          .withColumn("m", round(col("m"), 4))
      }),

    // ---- sample(field, N) selector: N points per (day, series) with
    //      original point times — md5-deterministic draw (documented
    //      deviation from InfluxDB's reservoir RNG) that DuckDB replays
    GraftQuery("q135_influx_sample",
      Some("""WITH base AS (
             |  SELECT make_timestamp((epoch_ms(ts) // 86400000) * 86400000 * 1000) AS g,
             |    ts, event_type, "value",
             |    row_number() OVER (
             |      PARTITION BY make_timestamp((epoch_ms(ts) // 86400000) * 86400000 * 1000),
             |        event_type
             |      ORDER BY md5(epoch_us(ts)::VARCHAR), ts) AS rk
             |  FROM events WHERE "value" IS NOT NULL)
             |SELECT ts AS "time", event_type, round("value", 4) AS v
             |FROM base WHERE rk <= 2""".stripMargin),
      (s, dir) => {
        val e = ingestEvents(s, dir)
        InfluxQL.run(e,
          "SELECT sample(value, 2) AS v FROM events GROUP BY time(1d), event_type")
          .withColumn("v", round(col("v"), 4))
      }),

    // ---- scalar math functions (InfluxQL 1.x query/math.go): around
    //      aggregates here; raw-field + log/pow/round-half-away cases in
    //      ProtocolsSpec. max/min/count keep the hash check exact.
    GraftQuery("q134_influx_math",
      Some("""SELECT event_type,
             |  round(sqrt(max("value")), 4) AS s,
             |  round(abs(min("value")), 4) AS a,
             |  round(pow(count("value"), 2), 4) AS c2
             |FROM events GROUP BY event_type""".stripMargin),
      (s, dir) => {
        val e = ingestEvents(s, dir)
        InfluxQL.run(e,
          """SELECT sqrt(max(value)) AS s, abs(min(value)) AS a,
            |  pow(count(value), 2) AS c2 FROM events GROUP BY event_type""".stripMargin)
          .withColumn("s", round(col("s"), 4))
          .withColumn("a", round(col("a"), 4))
          .withColumn("c2", round(col("c2"), 4))
      }),

    // ---- raw-point transformation over a subquery: difference between
    //      consecutive per-series downsampled points, no outer aggregate
    GraftQuery("q112_influx_raw_difference",
      Some("""WITH hourly AS (
             |  SELECT make_timestamp((epoch_ms(ts) // 3600000) * 3600000 * 1000) AS "time",
             |    event_type, max("value") AS m
             |  FROM events GROUP BY 1, 2)
             |SELECT event_type, "time",
             |  round(m - lag(m) OVER w, 4) AS d
             |FROM hourly
             |WINDOW w AS (PARTITION BY event_type ORDER BY "time")
             |QUALIFY lag(m) OVER w IS NOT NULL""".stripMargin),
      (s, dir) => {
        val e = ingestEvents(s, dir)
        InfluxQL.run(e,
          """SELECT difference(m) AS d FROM
            |  (SELECT max(value) AS m FROM events GROUP BY time(1h), event_type)""".stripMargin)
          .withColumn("d", round(col("d"), 4))
      }),

    // ---- InfluxQL subquery: aggregate-of-aggregate downsampling (mean of
    //      per-hour maxima per series) — the classic Grafana shape
    GraftQuery("q76_influx_subquery",
      // outer aggregates are max/min/count: order-independent, so the hash
      // check is exact (an outer MEAN of doubles differs in the last ulp by
      // summation order — that shape is unit-tested on an exact fixture in
      // ProtocolsSpec instead)
      Some("""WITH hourly AS (
             |  SELECT make_timestamp((epoch_ms(ts) // 3600000) * 3600000 * 1000) AS t,
             |    event_type, max("value") AS m
             |  FROM events GROUP BY 1, 2)
             |SELECT event_type, round(max(m), 4) AS hi, round(min(m), 4) AS lo,
             |  count(m) AS n_hours
             |FROM hourly GROUP BY event_type""".stripMargin),
      (s, dir) => {
        val e = ingestEvents(s, dir)
        InfluxQL.run(e,
          """SELECT max(m) AS hi, min(m) AS lo, count(m) AS n_hours FROM
            |  (SELECT max(value) AS m FROM events GROUP BY time(1h), event_type)
            |GROUP BY event_type""".stripMargin)
          .withColumn("hi", round(col("hi"), 4))
          .withColumn("lo", round(col("lo"), 4))
      }),

    // ---- InfluxQL: SHOW MEASUREMENTS (→ ShowTables, influxql/planner.rs);
    //      one line suffices to exercise auto-create + listing
    GraftQuery("q48_influx_show_measurements",
      Some("""SELECT 'events' AS "iox::measurement""""),
      (s, dir) => {
        import s.implicits._
        val e = new TsdbEngine(s,
          graft.TempDirs.create("graft-influx").toString)
        LineProtocol.ingest(e,
          Seq("events,event_type=error value=1.0 1704067200000000000").toDS())
        InfluxQL.run(e, "SHOW MEASUREMENTS")
      }),

    // ---- HTTP /sql wire round-trip (server/HttpApi): the aggregate runs
    //      through the engine, serializes to the reference's response JSON
    //      ({"rows":[{col: value}...]}, proxy/src/http/sql.rs), and the
    //      payload is parsed BACK into typed rows — asserting the codec
    //      both ways. Integer-scaled totals keep the JSON float-free.
    GraftQuery("q207_http_sql_api",
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(round(sum("value") * 100, 0) AS BIGINT) AS total_c
             |FROM events GROUP BY event_type""".stripMargin),
      (s, dir) => {
        val e = ingestEvents(s, dir)
        val resp = graft.server.HttpApi.handleSql(e,
          """{"query": "SELECT event_type, count(*) AS n, CAST(round(sum(value) * 100, 0) AS BIGINT) AS total_c FROM events GROUP BY event_type"}""")
        import s.implicits._
        val rows = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(resp).get("rows")
        require(rows != null, s"wire payload carried no rows: $resp")
        (0 until rows.size()).map { i =>
          val r = rows.get(i)
          (r.get("event_type").asText(), r.get("n").asLong(),
            r.get("total_c").asLong())
        }.toDF("event_type", "n", "total_c")
      }),

    // ---- gRPC storage service round trip THROUGH THE SOCKET: start the
    //      server, run the SQL over real HTTP/2+HPACK+protobuf frames with
    //      the hand-rolled wire client, decode the ArrowPayload back to a
    //      DataFrame — the driver gate proves the reference's primary SDK
    //      protocol end-to-end (q207's HTTP twin, one layer deeper: q207
    //      calls the handler, this one crosses TCP)
    GraftQuery("q278_grpc_sql_api",
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(round(sum("value") * 100, 0) AS BIGINT) AS total_c
             |FROM events GROUP BY event_type""".stripMargin),
      (s, dir) => {
        val e = ingestEvents(s, dir)
        val server = new graft.server.GraftGrpcServer(e).start()
        try {
          val c = new graft.server.GrpcWireClient(server.boundPort)
          try {
            val (resp, status) = c.call("/storage.StorageService/SqlQuery",
              graft.server.Pb.writeSqlQueryRequest(graft.server.Pb.SqlQueryRequest(
                "public", Seq("events"),
                "SELECT event_type, count(*) AS n, " +
                  "CAST(round(sum(value) * 100, 0) AS BIGINT) AS total_c " +
                  "FROM events GROUP BY event_type")))
            require(status == 0, s"grpc-status $status")
            val (code, err, _, batches) =
              graft.server.Pb.parseSqlQueryResponse(resp)
            require(code == 200 && batches.nonEmpty, s"code $code err $err")
            org.apache.spark.sql.GraftBridge.fromArrowStream(s, batches.head)
          } finally c.close()
        } finally server.stop()
      }),

    // ---- gRPC Write ingest round trip: fixture events → WriteSeriesEntry
    //      batches over the socket (auto-create with TAG column, append
    //      mode, ms timestamps — proxy/src/write.rs semantics) → aggregate
    //      back out over gRPC SqlQuery. The q49 opentsdb-put twin on the
    //      SDK protocol; both directions cross real HTTP/2 frames.
    GraftQuery("q279_grpc_write",
      // write timestamps are milliseconds, so the oracle truncates the
      // fixture's timestamps to ms before min/max (the q49 convention)
      Some("""SELECT event_type, count(*) AS n, round(sum("value"), 4) AS total,
             |  min(make_timestamp((epoch_ns(ts) // 1000000) * 1000)) AS first_ts,
             |  max(make_timestamp((epoch_ns(ts) // 1000000) * 1000)) AS last_ts
             |FROM events GROUP BY event_type""".stripMargin),
      (s, dir) => {
        val e = new TsdbEngine(s,
          graft.TempDirs.create("graft-grpc-write").toString)
        val server = new graft.server.GraftGrpcServer(e).start()
        try {
          val c = new graft.server.GrpcWireClient(server.boundPort)
          try {
            // the SDK shape: points grouped into one series entry per tag
            // set, one field group per point (request-sized by nature)
            val pts = Tables.t(s, dir, "events")
              .select(col("event_type"), unix_millis(col("ts")).as("ms"),
                col("value"))
              .collect()
              .groupBy(_.getString(0))
            val entries = pts.toSeq.sortBy(_._1).map { case (et, rows) =>
              graft.server.Pb.WriteSeriesEntry(
                Seq(graft.server.Pb.TagPb(0,
                  graft.server.Pb.Value(str = Some(et)))),
                rows.toSeq.map(r => graft.server.Pb.FieldGroup(r.getLong(1),
                  Seq(graft.server.Pb.FieldPb(0,
                    graft.server.Pb.Value(f64 = Some(r.getDouble(2))))))))
            }
            val (wresp, wstatus) = c.call("/storage.StorageService/Write",
              graft.server.Pb.writeWriteRequest(graft.server.Pb.WriteRequest(
                "public", Seq(graft.server.Pb.WriteTableRequest(
                  "events_grpc", Seq("event_type"), Seq("value"), entries)))))
            val (wcode, werr, success, failed) =
              graft.server.Pb.parseWriteResponse(wresp)
            require(wstatus == 0 && wcode == 200 && failed == 0 && success > 0,
              s"write failed: status=$wstatus code=$wcode err=$werr")
            val (qresp, _) = c.call("/storage.StorageService/SqlQuery",
              graft.server.Pb.writeSqlQueryRequest(graft.server.Pb.SqlQueryRequest(
                "public", Seq("events_grpc"),
                """SELECT event_type, count(*) AS n, round(sum(value), 4) AS total,
                  |  min(timestamp) AS first_ts, max(timestamp) AS last_ts
                  |FROM events_grpc GROUP BY event_type""".stripMargin)))
            val (qcode, qerr, _, batches) =
              graft.server.Pb.parseSqlQueryResponse(qresp)
            require(qcode == 200 && batches.nonEmpty, s"query: $qcode $qerr")
            org.apache.spark.sql.GraftBridge.fromArrowStream(s, batches.head)
          } finally c.close()
        } finally server.stop()
      }),

    // ---- gRPC StreamSqlQuery round trip: the server-streamed variant of
    //      q278 — one self-contained ArrowPayload per 16-row batch
    //      (proxy/src/grpc/sql_query.rs:190-209), reassembled client-side
    //      by union. The require(>1) pins that the result actually
    //      STREAMED (several HTTP/2 DATA messages on one stream), not one
    //      payload. Integer-exact columns (count + sum of int64 event_id)
    //      keep the multi-chunk reassembly float-free.
    GraftQuery("q280_grpc_stream_query",
      Some("""SELECT event_type, CAST(user_id % 50 AS BIGINT) AS ub,
             |  count(*) AS n, CAST(sum(event_id) AS BIGINT) AS sum_eid
             |FROM events GROUP BY 1, 2""".stripMargin),
      (s, dir) => {
        val e = ingestEvents(s, dir)
        val server = new graft.server.GraftGrpcServer(e, streamBatchRows = 16).start()
        try {
          val c = new graft.server.GrpcWireClient(server.boundPort)
          try {
            val (resps, status) = c.callMulti("/storage.StorageService/StreamSqlQuery",
              Seq(graft.server.Pb.writeSqlQueryRequest(graft.server.Pb.SqlQueryRequest(
                "public", Seq("events"),
                "SELECT event_type, CAST(user_id % 50 AS BIGINT) AS ub, " +
                  "count(*) AS n, sum(event_id) AS sum_eid " +
                  "FROM events GROUP BY 1, 2"))))
            require(status == 0, s"grpc-status $status")
            require(resps.length > 1, s"expected a streamed response, got ${resps.length}")
            val frames = resps.map { r =>
              val (code, err, _, batches) = graft.server.Pb.parseSqlQueryResponse(r)
              require(code == 200 && batches.length == 1, s"code $code err $err")
              org.apache.spark.sql.GraftBridge.fromArrowStream(s, batches.head)
            }
            frames.reduce(_ unionAll _)
          } finally c.close()
        } finally server.stop()
      }),

    // ---- gRPC Prometheus remote read: one prompb Query in (anchored
    //      regex matcher on the tag, __name__ selects the table), one
    //      prompb QueryResult out — raw samples per series, ms timestamps
    //      (proxy/src/http/prom.rs:185,352-440). Values are the engine's
    //      f64 points, bit-identical to the fixture doubles through the
    //      line-protocol round trip (Double.toString ↔ parseDouble).
    GraftQuery("q281_grpc_prom_remote",
      Some("""SELECT event_type, (epoch_ns(ts) // 1000000) AS ms, "value" AS v
             |FROM events
             |WHERE regexp_full_match(event_type, 'click|view|purchase')""".stripMargin),
      (s, dir) => {
        val e = ingestEvents(s, dir)
        val server = new graft.server.GraftGrpcServer(e).start()
        try {
          val c = new graft.server.GrpcWireClient(server.boundPort)
          try {
            val (resp, status) = c.call("/storage.StorageService/PromRemoteQuery",
              graft.server.Pb.writePromRemoteQueryRequest("public",
                graft.server.Pb.PromQueryPb(0L, 4102444800000L, Seq(
                  graft.server.Pb.LabelMatcherPb(0, "__name__", "events"),
                  graft.server.Pb.LabelMatcherPb(2, "event_type",
                    "click|view|purchase")))))
            require(status == 0, s"grpc-status $status")
            val (code, err, series) =
              graft.server.Pb.parsePromRemoteQueryResponse(resp)
            require(code == 200 && series.nonEmpty, s"code $code err $err")
            import s.implicits._
            series.flatMap { ts =>
              val et = ts.labels.find(_.name == "event_type")
                .map(_.value).getOrElse("")
              ts.samples.map(sm => (et, sm.timestampMs, sm.value))
            }.toDF("event_type", "ms", "v")
          } finally c.close()
        } finally server.stop()
      }),

    // ---- gRPC PromQuery (structured-expr API, proxy/src/grpc/
    //      prom_query.rs): sum(rate(events{event_type IN ...}[1h])) as a
    //      protobuf Expr tree — Aggr(sum) over Func(rate) over a Selector
    //      with a multi-param LITERAL_OR filter — through the socket. The
    //      oracle replays the Prometheus counter extrapolation at MS grain
    //      (the engine stores line-protocol timestamps truncated to ms, so
    //      window membership and Δt must both use epoch_ms, not the
    //      fixture's µs). Per-series ms ties are impossible by the
    //      fixture's (event_type, ms) no-collision invariant.
    GraftQuery("q284_grpc_prom_query",
      Some("""WITH grid AS (
             |  SELECT unnest(generate_series(TIMESTAMP '2024-01-10 01:00:00',
             |    TIMESTAMP '2024-01-11 00:00:00', INTERVAL 1 HOUR)) AS gts),
             |win AS (
             |  SELECT g.gts, e.event_type, epoch_ms(e.ts) AS tms, e."value" AS v
             |  FROM grid g JOIN events e
             |    ON epoch_ms(e.ts) > epoch_ms(g.gts) - 3600000
             |   AND epoch_ms(e.ts) <= epoch_ms(g.gts)
             |  WHERE e.event_type IN ('click', 'view', 'purchase')),
             |agg AS (
             |  SELECT gts, event_type, count(*) AS n,
             |    min(tms) AS t_first, max(tms) AS t_last,
             |    first(v ORDER BY tms) AS v_first,
             |    last(v ORDER BY tms) AS v_last,
             |    sum(CASE WHEN pv IS NOT NULL AND v < pv THEN pv ELSE 0 END) AS resets
             |  FROM (SELECT gts, event_type, tms, v,
             |          lag(v) OVER (PARTITION BY gts, event_type ORDER BY tms) AS pv
             |        FROM win)
             |  GROUP BY gts, event_type),
             |calc AS (
             |  SELECT gts, event_type, n,
             |    v_last - v_first + resets AS result0,
             |    (t_first - (epoch_ms(gts) - 3600000)) / 1000.0 AS d_start,
             |    (epoch_ms(gts) - t_last) / 1000.0 AS d_end,
             |    (t_last - t_first) / 1000.0 AS sampled,
             |    v_first
             |  FROM agg WHERE n >= 2),
             |calc2 AS (
             |  SELECT gts, result0, sampled, sampled / (n - 1) AS avg_dur,
             |    CASE WHEN result0 > 0 AND v_first >= 0
             |          AND sampled * (v_first / result0) < d_start
             |         THEN sampled * (v_first / result0) ELSE d_start END AS d_start2,
             |    d_end
             |  FROM calc WHERE sampled > 0),
             |calc3 AS (
             |  SELECT gts, result0, sampled,
             |    sampled
             |    + CASE WHEN d_start2 < avg_dur * 1.1 THEN d_start2 ELSE avg_dur / 2 END
             |    + CASE WHEN d_end < avg_dur * 1.1 THEN d_end ELSE avg_dur / 2 END
             |      AS extrap
             |  FROM calc2)
             |SELECT gts AS ts,
             |  round(sum(result0 * (extrap / sampled) / 3600.0), 4) AS "value"
             |FROM calc3 GROUP BY gts""".stripMargin),
      (s, dir) => {
        val e = ingestEvents(s, dir)
        val server = new graft.server.GraftGrpcServer(e).start()
        try {
          val c = new graft.server.GrpcWireClient(server.boundPort)
          try {
            import graft.server.Pb
            val sel = Pb.PromSelectorPb("events",
              start = 1704844800000L, end = 1704931200000L,
              alignStart = 1704848400000L, alignEnd = 1704931200000L,
              filters = Seq(Pb.PromFilterPb("event_type",
                Seq(Pb.PromFilterCondPb(0, Seq("click", "view", "purchase"))))),
              range = 3600000L, step = 3600000L)
            val expr = Pb.PromSubExprPb(0, "sum",
              Seq(Pb.PromSubExprPb(1, "rate", Seq(Pb.PromOperandSelector(sel)))))
            val (resp, status) = c.call("/storage.StorageService/PromQuery",
              Pb.writePromQueryRequest("public", expr))
            require(status == 0, s"grpc-status $status")
            val (code, err, series) = Pb.parsePromQueryResponse(resp)
            require(code == 200 && series.length == 1,
              s"code $code err $err n=${series.length}")
            import s.implicits._
            series.head.samples
              .map(sm => (new java.sql.Timestamp(sm.timestampMs), sm.value))
              .toDF("ts", "value")
              .withColumn("value", round(col("value"), 4))
          } finally c.close()
        } finally server.stop()
      })
  )
}
