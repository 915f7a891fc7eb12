package loadbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.engine.TsdbEngine
import graft.influx.InfluxQL
import graft.server.{GraftHttpServer, HttpApi}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What a workload shares with the harness. */
final class Ctx(
    val spark: SparkSession, val seed: Long, val rec: Recorder,
    val trace: Option[Tracer])

/** A closed-loop workload: a set-up that builds the starting state in an
  * empty warehouse, then cycles of operations. A cycle is the unit the
  * timed phase stops on, so every run sees the same operation mix. */
trait Workload {
  def table: String
  def engine: TsdbEngine
  /** The cycle after which stored bytes per point are measured: a fixed
    * schedule point, so the figure does not depend on machine speed. */
  def measureAfterCycle: Int
  def setUp(warehouse: String): Unit
  def cycle(i: Int): Unit
  def finalCheck(): Unit
  /** Distinct live points the model holds. */
  def livePoints: Long
  def tearDown(): Unit
}

/** Dashboard-shaped queries over one measurement, built from the model's
  * view of time. Shared by the dashboard (which runs them) and the traced
  * ingest run (which times their lowering). */
object Panels {
  val mapper = new ObjectMapper()
  val MinMs = 60000L
  def floorTo(t: Long, g: Long): Long = Math.floorDiv(t, g) * g

  def promql(table: String): String = s"max by (region) ($table)"
  def promRange(tEnd: Long): (Long, Long) =
    (floorTo(tEnd - 30 * MinMs, MinMs), floorTo(tEnd, MinMs))

  def influxWindow(tEnd: Long): (Long, Long) = {
    val a = floorTo(tEnd - 30 * MinMs, 5 * MinMs)
    (a, a + 30 * MinMs)
  }
  def influxql(table: String, region: String, tEnd: Long): String = {
    val (a, b) = influxWindow(tEnd)
    s"SELECT max(usage) FROM $table WHERE region = '$region' AND " +
      s"time >= ${a}ms AND time < ${b}ms GROUP BY time(5m), host fill(none)"
  }

  def inList(hosts: Seq[Int]): String =
    hosts.map(h => s"'${Gen.hostName(h)}'").mkString("(", ", ", ")")

  def sqlTagFilter(table: String, hosts: Seq[Int], from: Long): String =
    s"SELECT host, count(*) AS n, sum(usage) AS s FROM $table " +
      s"WHERE host IN ${inList(hosts)} AND ts >= $from GROUP BY host"

  def opentsdb(table: String, region: String, from: Long, to: Long): String =
    s"""{"start": $from, "end": $to, "queries": [{"metric": "$table", """ +
      s""""aggregator": "sum", "tags": {"region": "$region"}}]}"""

  def rollupWindow(tEnd: Long): (Long, Long) =
    (floorTo(tEnd - 120 * MinMs, MinMs), floorTo(tEnd, MinMs))
  def rollupSql(table: String, hosts: Seq[Int], tEnd: Long): String = {
    val (a, b) = rollupWindow(tEnd)
    val bucket = "time_bucket(ts, 'PT5M', '+00:00')"
    s"SELECT host, $bucket AS b, count(usage) AS n, sum(usage) AS s, " +
      s"max(usage) AS mx FROM $table WHERE host IN ${inList(hosts)} " +
      s"AND ts >= $a AND ts < $b GROUP BY host, $bucket"
  }

  def sqlBody(sql: String): String =
    mapper.writeValueAsString(Map("query" -> sql).asJava)

  def ddl(table: String): String =
    s"CREATE TABLE $table (host string TAG, region string TAG, usage double, " +
      "ts timestamp NOT NULL, TIMESTAMP KEY(ts)) ENGINE=Analytic " +
      "WITH (update_mode='overwrite', segment_duration='1h')"

  def json(body: String): JsonNode = mapper.readTree(body)

  /** /sql rows keyed by their `host` (+ optional bucket) column. */
  def sqlRows(body: String, keyCols: Seq[String], valCols: Seq[String])
      : Map[Seq[String], Seq[Double]] = {
    val root = json(body)
    if (root.has("code")) throw new WrongAnswer(s"/sql error: ${body.take(300)}")
    root.get("rows").elements().asScala.map { r =>
      keyCols.map(k => r.get(k).asText()) -> valCols.map(v => r.get(v).asDouble())
    }.toMap
  }
}

/** Server + client + engine for one warehouse. */
final class Stack(spark: SparkSession, warehouse: String) {
  val engine = new TsdbEngine(spark, warehouse)
  val server = new GraftHttpServer(engine, 0).start()
  val client = new Client(server.boundPort)

  def sql(q: String): Reply = client.post("/sql", Panels.sqlBody(q))
  def sqlOk(q: String): String = {
    val r = sql(q)
    Check.status(s"/sql $q", r.status, 200, r.body)
    if (Panels.json(r.body).has("code")) throw new WrongAnswer(r.body.take(300))
    r.body
  }
  def write(lines: String): Reply = client.post("/influxdb/v1/write", lines)
  def stop(): Unit = server.stop()
}

/** Write path: line-protocol batches of 1,000 points into a DDL-created
  * overwrite table, each followed by the engine's count-triggered
  * maintenance. A cycle is two batches and one small SQL read-back. */
final class Ingest(c: Ctx) extends Workload {
  val table = "cpu"
  private val H = 100
  private val Steps = 10
  private val StepMs = 10000L
  private val T0 = 1704067200000L // 2024-01-01T00:00Z, a segment boundary
  private val HourMs = 3600000L
  val measureAfterCycle = 6

  private var stack: Stack = _
  def engine: TsdbEngine = stack.engine
  // a sink's maintenance policy: compact after 8 pending batches, pack a
  // segment past 8 files, so a short run sees both several times
  private def maintain(): (Boolean, Long) = {
    def run() = engine.runMaintenance(table, minBatches = 8, maxFilesPerSegment = 8)
    c.trace.fold(run())(_.maintenance(run()))
  }

  // last-write-wins model: (ts seconds << 8 | host) -> value
  private val model = mutable.HashMap[Long, Double]()
  private def key(h: Int, tsMs: Long): Long = ((tsMs / 1000L) << 8) | h
  def livePoints: Long = model.size.toLong

  // batch schedule: in every block of 20 batches, two re-send an earlier
  // batch's keys with new values and one lands in the previous hour's
  // segment. The positions are fixed, so every seed reaches the same
  // storage states at the same batch; the seed picks values and which
  // earlier batch is re-sent.
  private val schedRng = new Gen.Rng(c.seed, 1)
  private val readRng = new Gen.Rng(c.seed, 2)
  private def kindOf(b: Int): Char = b % 20 match {
    case 6 | 16 => 'r'
    case 11     => 'l'
    case _      => 'n'
  }
  private var normal = 0
  private var late = 0

  /** Points of batch `b` as (host, ts ms, value). */
  private def batch(b: Int): Seq[(Int, Long, Double)] = {
    val (firstStep, base) = kindOf(b) match {
      case 'n' => normal += 1; ((normal - 1) * Steps, T0)
      case 'r' => (schedRng.nextInt(normal) * Steps, T0)
      case _   => late += 1; (((late - 1) % 36) * Steps, T0 - HourMs)
    }
    for (j <- 0 until Steps; h <- 0 until H) yield {
      val step = firstStep + j
      (h, base + step * StepMs, Gen.value(c.seed, b, h, step))
    }
  }
  private def region(h: Int) = s"r${h % 5}"
  private def lines(t: String, pts: Seq[(Int, Long, Double)]): String =
    pts.map { case (h, ts, v) => Gen.line(t, h, region(h), v, ts) }.mkString("\n")

  def setUp(warehouse: String): Unit = {
    stack = new Stack(c.spark, warehouse)
    stack.sqlOk(Panels.ddl(table))
    // warm pass on a throwaway table: the same statements, other keys
    stack.sqlOk(Panels.ddl("warm"))
    (0 until 2).foreach { b =>
      val pts = for (h <- 0 until H; j <- 0 until Steps)
        yield (h, T0 + (b * Steps + j) * StepMs, Gen.value(c.seed, -1, h, j))
      val r = stack.write(lines("warm", pts))
      Check.status("warm write", r.status, 204, r.body)
      engine.runMaintenance("warm")
    }
    stack.sqlOk(readBackSql("warm", Seq(0, 1, 2)))
    stack.sqlOk("DROP TABLE warm")
  }

  private def readBackSql(t: String, hosts: Seq[Int]): String =
    s"SELECT host, count(*) AS n, sum(usage) AS s, max(usage) AS mx FROM $t " +
      s"WHERE host IN ${Panels.inList(hosts)} GROUP BY host"

  private def expected(hosts: Set[Int], withMin: Boolean)
      : Map[Seq[String], Seq[Double]] = {
    val acc = mutable.HashMap[Int, Array[Double]]()
    model.foreach { case (k, v) =>
      val h = (k & 0xFF).toInt
      if (hosts(h)) {
        val a = acc.getOrElseUpdate(h, Array(0.0, 0.0, Double.MinValue, Double.MaxValue))
        a(0) += 1; a(1) += v; a(2) = math.max(a(2), v); a(3) = math.min(a(3), v)
      }
    }
    acc.map { case (h, a) =>
      Seq(Gen.hostName(h)) -> (if (withMin) Seq(a(0), a(1), a(3), a(2))
                               else Seq(a(0), a(1), a(2)))
    }.toMap
  }

  private def write(b: Int): Unit = {
    val g0 = System.nanoTime()
    val pts = batch(b)
    val body = lines(table, pts)
    c.trace.foreach(_.gen(System.nanoTime() - g0))
    c.rec.op("write", "lp_write", pts.length.toLong) {
      val r = stack.write(body)
      (r, maintain())
    }(_._1.body.length.toLong) { case (r, _) =>
      Check.status("write", r.status, 204, r.body)
      pts.foreach { case (h, ts, v) => model(key(h, ts)) = v }
    }
    c.trace.foreach { t =>
      val ls = body.split('\n')
      t.frontend("lp_parse", ls.length)(ls.foreach(graft.influx.LineProtocol.parseLine))
    }
  }

  def cycle(i: Int): Unit = {
    write(2 * i)
    write(2 * i + 1)
    val hosts = readRng.distinct(3, H)
    val sql = readBackSql(table, hosts)
    c.rec.op("query", "sql") {
      stack.sql(sql)
    }(_.body.length.toLong) { r =>
      Check.status("read-back", r.status, 200, r.body)
      Check.equal("read-back", Panels.sqlRows(r.body, Seq("host"), Seq("n", "s", "mx")),
        expected(hosts.toSet, withMin = false))
    }
    c.trace.foreach { t =>
      t.replay("sql", c.rec.ops.last)(HttpApi.handleSql(engine, Panels.sqlBody(sql)))
      lowerProbes(t)
    }
  }

  /** Traced run only: time the lowering of panel-shaped queries against
    * the ingest table (the read-back itself is SQL). */
  private def lowerProbes(t: Tracer): Unit = {
    val tEnd = T0 + (normal * Steps - 1) * StepMs
    t.frontend("sql")(engine.execute(readBackSql(table, Seq(0, 1, 2))))
    t.frontend("influxql")(InfluxQL.run(engine, Panels.influxql(table, "r1", tEnd)))
    val (s, e) = Panels.promRange(tEnd)
    t.frontend("promql")(graft.promql.PromQL.eval(c.spark, stack.server.resolve,
      Panels.promql(table), graft.promql.EvalParams(s, e, Panels.MinMs)))
    t.frontend("opentsdb")(graft.opentsdb.OpenTsdb.run(
      graft.opentsdb.OpenTsdb.parseQuery(
        Panels.opentsdb(table, "r2", tEnd - 10 * Panels.MinMs, tEnd)),
      stack.server.resolve))
  }

  def finalCheck(): Unit = {
    val all = (0 until H).toSet
    c.rec.op("final", "table_state") {
      stack.sql(s"SELECT host, count(*) AS n, sum(usage) AS s, min(usage) AS mn, " +
        s"max(usage) AS mx FROM $table GROUP BY host")
    }(_.body.length.toLong) { r =>
      Check.status("final state", r.status, 200, r.body)
      Check.equal("final state",
        Panels.sqlRows(r.body, Seq("host"), Seq("n", "s", "mn", "mx")),
        expected(all, withMin = true))
    }
  }

  def tearDown(): Unit = if (stack != null) stack.stop()
}

/** Read path: a preloaded, compacted table with a registered 1-minute
  * rollup, refreshed as a dashboard: five panels over four frontends,
  * one trickle write with maintenance, and a continuous-query refresh
  * after every second refresh. */
final class Dashboard(c: Ctx) extends Workload {
  val table = "cpu"
  private val H = 100
  private val R = 5
  private val PreSteps = 720 // two hours of 10 s samples
  private val StepMs = 10000L
  private val T0 = 1704067200000L
  private val Resends = 20
  val measureAfterCycle = 3

  private var stack: Stack = _
  def engine: TsdbEngine = stack.engine
  private def maintain(): (Boolean, Long) =
    c.trace.fold(engine.runMaintenance(table))(_.maintenance(engine.runMaintenance(table)))

  // model: base values are Gen.value(seed, 0, h, step); re-sent points
  // override them; steps [0, steps) exist for every host
  private var steps = PreSteps
  private val overrides = mutable.HashMap[Long, Double]()
  private def key(h: Int, step: Int): Long = (step.toLong << 8) | h
  private def v(h: Int, step: Int): Double =
    overrides.getOrElse(key(h, step), Gen.value(c.seed, 0, h, step))
  private def tsOf(step: Int): Long = T0 + step * StepMs
  private def stepAt(tMs: Long): Int = Math.floorDiv(tMs - T0, StepMs).toInt
  private def tEnd: Long = tsOf(steps - 1)
  def livePoints: Long = H.toLong * steps
  private def hostsOf(region: Int): Seq[Int] = (0 until H).filter(_ % R == region)

  private val rng = new Gen.Rng(c.seed, 3)

  def setUp(warehouse: String): Unit = {
    stack = new Stack(c.spark, warehouse)
    stack.sqlOk(Panels.ddl(table))
    val seed = c.seed
    val value = udf((h: Int, step: Long) => Gen.value(seed, 0, h, step))
    (0 until PreSteps by 360).foreach { lo =>
      val df = c.spark.range(lo.toLong * H, (lo + 360).toLong * H)
        .select((col("id") % H).cast("int").as("h"), (col("id") / H).cast("long").as("i"))
        .select(
          concat(lit("h"), lpad(col("h").cast("string"), 3, "0")).as("host"),
          concat(lit("r"), (col("h") % R).cast("string")).as("region"),
          value(col("h"), col("i")).as("usage"),
          timestamp_millis(lit(T0) + col("i") * StepMs).as("ts"))
      engine.append(table, df)
    }
    engine.compact(table)
    val cq = "CREATE CONTINUOUS QUERY cq_cpu_1m ON public BEGIN " +
      "SELECT count(usage) AS n, sum(usage) AS s, max(usage) AS mx INTO cpu_1m " +
      s"FROM $table GROUP BY time(1m), host, region fill(none) END"
    val r = stack.client.get("/influxdb/v1/query", Seq("q" -> cq))
    Check.status("create cq", r.status, 200, r.body)
    InfluxQL.runContinuousQueries(engine)
    // warm pass: every panel once (read-only, so the state is unchanged)
    panels(-1, record = false)
  }

  private def panels(i: Int, record: Boolean): Unit = {
    val region = if (i < 0) 0 else i % R
    val hosts = rng.distinct(4, H)
    def run[R](name: String, exec: => R, bytes: R => Long)(check: R => Unit): Unit =
      if (record) c.rec.op("query", name)(exec)(bytes)(check)
      else check(exec)
    val end = tEnd
    val t = c.trace.filter(_ => record)

    // 1. PromQL range query
    val (ps, pe) = Panels.promRange(end)
    val promParams = Seq("query" -> Panels.promql(table), "start" -> (ps / 1000).toString,
      "end" -> (pe / 1000).toString, "step" -> "60")
    run[Reply]("promql", stack.client.get("/api/v1/query_range", promParams),
      _.body.length.toLong) { r =>
      Check.status("promql", r.status, 200, r.body)
      val got = Panels.json(r.body).get("data").get("result").elements().asScala.flatMap { s =>
        val reg = s.get("metric").get("region").asText()
        s.get("values").elements().asScala.map(p =>
          Seq(reg, p.get(0).asLong().toString) -> Seq(p.get(1).asText().toDouble))
      }.toMap
      val want = (for (g <- 0 until R; t <- ps to pe by Panels.MinMs) yield
        Seq(s"r$g", (t / 1000).toString) ->
          Seq(hostsOf(g).map(h => v(h, stepAt(t))).max)).toMap
      Check.equal("promql", got, want)
    }
    t.foreach { tr =>
      val p = graft.promql.EvalParams(ps, pe, Panels.MinMs)
      tr.replay("promql", c.rec.ops.last)(HttpApi.handlePromRange(
        c.spark, stack.server.resolve, Panels.promql(table), p))
      tr.frontend("promql")(graft.promql.PromQL.eval(
        c.spark, stack.server.resolve, Panels.promql(table), p))
    }

    // 2. InfluxQL GROUP BY time()
    val iq = Panels.influxql(table, s"r$region", end)
    run[Reply]("influxql",
      stack.client.get("/influxdb/v1/query", Seq("q" -> iq, "epoch" -> "ms")),
      _.body.length.toLong) { r =>
      Check.status("influxql", r.status, 200, r.body)
      val res = Panels.json(r.body).get("results").get(0)
      if (res.has("error")) throw new WrongAnswer(s"influxql: ${r.body.take(300)}")
      val got = res.get("series").elements().asScala.flatMap { s =>
        val host = s.get("tags").get("host").asText()
        s.get("values").elements().asScala.map(p =>
          Seq(host, p.get(0).asLong().toString) -> Seq(p.get(1).asDouble()))
      }.toMap
      val (a, b) = Panels.influxWindow(end)
      val want = (for {
        h <- hostsOf(region); bk <- a until b by 5 * Panels.MinMs
        ss = (stepAt(bk) until stepAt(bk + 5 * Panels.MinMs)).filter(_ < steps)
        if ss.nonEmpty
      } yield Seq(Gen.hostName(h), bk.toString) -> Seq(ss.map(v(h, _)).max)).toMap
      Check.equal("influxql", got, want)
    }
    t.foreach { tr =>
      tr.replay("influxql", c.rec.ops.last)(HttpApi.handleInfluxQuery(engine, iq, Some("ms")))
      tr.frontend("influxql")(InfluxQL.run(engine, iq))
    }

    // 3. SQL with a tag filter over the last hour
    val from = end - 60 * Panels.MinMs
    val tagSql = Panels.sqlTagFilter(table, hosts.take(3), from)
    run[Reply]("sql", stack.sql(tagSql), _.body.length.toLong) { r =>
      Check.status("sql", r.status, 200, r.body)
      val ss = stepAt(from) until steps
      val want = hosts.take(3).map(h =>
        Seq(Gen.hostName(h)) -> Seq(ss.length.toDouble, ss.map(v(h, _)).sum)).toMap
      Check.equal("sql", Panels.sqlRows(r.body, Seq("host"), Seq("n", "s")), want)
    }
    t.foreach { tr =>
      tr.replay("sql", c.rec.ops.last)(HttpApi.handleSql(engine, Panels.sqlBody(tagSql)))
      tr.frontend("sql")(engine.execute(tagSql))
    }

    // 4. OpenTSDB sum across a region's hosts over ten minutes
    val (os, oe) = (end - 10 * Panels.MinMs, end)
    val otsdb = Panels.opentsdb(table, s"r$region", os, oe)
    run[Reply]("opentsdb", stack.client.post("/opentsdb/api/query", otsdb),
      _.body.length.toLong) { r =>
      Check.status("opentsdb", r.status, 200, r.body)
      val arr = Panels.json(r.body)
      if (!arr.isArray) throw new WrongAnswer(s"opentsdb: ${r.body.take(300)}")
      val got = arr.elements().asScala.flatMap { s =>
        s.get("dps").fields().asScala.map(e => Seq(e.getKey) -> Seq(e.getValue.asDouble()))
      }.toMap
      val want = (stepAt(os) to stepAt(oe)).map(st =>
        Seq(tsOf(st).toString) -> Seq(hostsOf(region).map(v(_, st)).sum)).toMap
      Check.equal("opentsdb", got, want)
    }
    t.foreach { tr =>
      tr.replay("opentsdb", c.rec.ops.last)(
        HttpApi.handleOpentsdbQuery(stack.server.resolve, otsdb))
      tr.frontend("opentsdb")(graft.opentsdb.OpenTsdb.run(
        graft.opentsdb.OpenTsdb.parseQuery(otsdb), stack.server.resolve))
    }

    // 5. rollup-eligible aggregate (served from cpu_1m while it is fresh)
    val rq = Panels.rollupSql(table, hosts, end)
    run[Reply]("rollup_sql", stack.sql(rq), _.body.length.toLong) { r =>
      Check.status("rollup_sql", r.status, 200, r.body)
      val (a, b) = Panels.rollupWindow(end)
      val want = (for {
        h <- hosts; bk <- Panels.floorTo(a, 5 * Panels.MinMs) until b by 5 * Panels.MinMs
        ss = (math.max(stepAt(math.max(bk, a)), 0) until
          math.min(stepAt(math.min(bk + 5 * Panels.MinMs, b)), steps))
        if ss.nonEmpty
      } yield Seq(Gen.hostName(h), bk.toString) -> {
        val vs = ss.map(v(h, _))
        Seq(vs.length.toDouble, vs.sum, vs.max)
      }).toMap
      Check.equal("rollup_sql", Panels.sqlRows(r.body, Seq("host", "b"), Seq("n", "s", "mx")), want)
    }
    t.foreach { tr =>
      tr.replay("sql", c.rec.ops.last)(HttpApi.handleSql(engine, Panels.sqlBody(rq)))
      tr.frontend("sql")(engine.execute(rq))
    }
  }

  def cycle(i: Int): Unit = {
    panels(i, record = true)

    // trickle write: the next step for every host plus one re-sent point
    // for each of 20 distinct hosts from the preload's last half hour.
    // The shape is fixed (always the same two segments, always 20
    // distinct tags among the re-sends) because Parquet keeps a column
    // chunk dictionary-encoded, and then writes no bloom filter for it,
    // only while the dictionary pays off: a file's size jumps from a few
    // KB to about 1 MB with its distinct-tag count.
    val g0 = System.nanoTime()
    val fresh = (0 until H).map(h => (h, steps, Gen.value(c.seed, 0, h, steps)))
    val resent = rng.distinct(Resends, H).map { h =>
      val st = PreSteps - 1 - rng.nextInt(180)
      (h, st, Gen.value(c.seed, 1000 + i, h, st))
    }
    val pts = fresh ++ resent
    val body = pts.map { case (h, st, x) => Gen.line(table, h, s"r${h % R}", x, tsOf(st)) }
      .mkString("\n")
    c.trace.foreach(_.gen(System.nanoTime() - g0))
    c.rec.op("write", "lp_write", pts.length.toLong) {
      val r = stack.write(body)
      (r, maintain())
    }(_._1.body.length.toLong) { case (r, _) =>
      Check.status("trickle write", r.status, 204, r.body)
      steps += 1
      resent.foreach { case (h, st, x) => overrides(key(h, st)) = x }
    }
    c.trace.foreach { t =>
      val ls = body.split('\n')
      t.frontend("lp_parse", ls.length)(ls.foreach(graft.influx.LineProtocol.parseLine))
    }

    if (i % 2 == 1)
      c.rec.op("rollup", "cq_refresh")(InfluxQL.runContinuousQueries(engine))(_ => 0L) { r =>
        if (r.map(_._1) != Seq("cq_cpu_1m") || r.head._2 <= 0)
          throw new WrongAnswer(s"cq refresh wrote $r")
      }
  }

  def finalCheck(): Unit =
    c.rec.op("final", "table_state") {
      stack.sql(s"SELECT host, count(*) AS n, sum(usage) AS s, max(usage) AS mx " +
        s"FROM $table GROUP BY host")
    }(_.body.length.toLong) { r =>
      Check.status("final state", r.status, 200, r.body)
      val want = (0 until H).map { h =>
        val vs = (0 until steps).map(v(h, _))
        Seq(Gen.hostName(h)) -> Seq(steps.toDouble, vs.sum, vs.max)
      }.toMap
      Check.equal("final state", Panels.sqlRows(r.body, Seq("host"), Seq("n", "s", "mx")), want)
    }

  def tearDown(): Unit = if (stack != null) stack.stop()
}
