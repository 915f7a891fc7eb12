package graft.influx

import graft.engine.TsdbEngine
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** InfluxQL query frontend — the reference inherits the full vendored IOx
  * planner (query_frontend/src/influxql/planner.rs, Cargo.toml:127-130);
  * this hand lowering covers the in-repo-tested subset plus the surface a
  * Grafana-style client sends first: `SELECT` with field projections or
  * aggregates, tag/time predicates, `GROUP BY time(interval)[, tags]` with
  * `fill(none|null|0|<num>|previous|linear)`, `LIMIT`/`SLIMIT`, and the
  * `SHOW MEASUREMENTS` / `SHOW TAG KEYS` / `SHOW TAG VALUES` metadata
  * queries. The measurement column name `iox::measurement` follows the
  * reference's IOx bridge (influxql/planner.rs:49).
  *
  * Statements lower directly to DataFrame ops against engine tables — the
  * reference delegates to the vendored IOx planner; we delegate to
  * Catalyst. fill() generates the bucket grid with `sequence()` + explode
  * per observed series (distributed — no driver-side grid loop), so empty
  * buckets materialize as rows before the fill mode decides their values.
  */
object InfluxQL {

  private val showTagKeysRe =
    """(?is)^SHOW\s+TAG\s+KEYS(?:\s+FROM\s+([\w"]+))?\s*$""".r
  private val showTagValuesRe =
    """(?is)^SHOW\s+TAG\s+VALUES(?:\s+FROM\s+([\w"]+))?\s+WITH\s+KEY\s*=\s*["']?(\w+)["']?\s*$""".r
  private val showFieldKeysRe =
    """(?is)^SHOW\s+FIELD\s+KEYS(?:\s+FROM\s+([\w"]+))?\s*$""".r
  private val showSeriesRe =
    """(?is)^SHOW\s+SERIES(?:\s+FROM\s+([\w"]+))?\s*$""".r
  private val cardinalityRe =
    """(?is)^SHOW\s+(SERIES|MEASUREMENT|TAG\s+KEY|FIELD\s+KEY)\s+CARDINALITY(?:\s+FROM\s+([\w"]+))?\s*$""".r
  private val tagValuesCardRe =
    """(?is)^SHOW\s+TAG\s+VALUES\s+CARDINALITY(?:\s+FROM\s+([\w"]+))?\s+WITH\s+KEY\s*=\s*["']?(\w+)["']?\s*$""".r
  private val createCqRe =
    """(?is)^CREATE\s+CONTINUOUS\s+QUERY\s+([\w"]+)\s+ON\s+[\w"]+\s+BEGIN\s+(.*?)\s+END\s*$""".r
  private val showCqRe = """(?is)^SHOW\s+CONTINUOUS\s+QUERIES\s*$""".r
  private val dropMeasRe =
    """(?is)^DROP\s+MEASUREMENT\s+([\w"]+)\s*$""".r
  private val deleteRe =
    """(?is)^DELETE\s+FROM\s+([\w"]+)(?:\s+WHERE\s+(.*?))?\s*$""".r
  private val dropCqRe =
    """(?is)^DROP\s+CONTINUOUS\s+QUERY\s+([\w"]+)\s+ON\s+[\w"]+\s*$""".r

  def run(engine: TsdbEngine, q: String): DataFrame = {
    val trimmed = q.trim.stripSuffix(";").trim
    val spark = engine.spark
    import spark.implicits._
    trimmed match {
      case _ if trimmed.toUpperCase.startsWith("SHOW MEASUREMENTS") =>
        engine.catalog.list().sorted.toDF("iox::measurement")
      case _ if trimmed.toUpperCase.startsWith("SHOW DATABASES") =>
        // single-database engine: the Grafana datasource handshake sends
        // this first; answer with the reference's default catalog name
        Seq("public").toDF("name")
      case _ if trimmed.toUpperCase.startsWith("SHOW RETENTION POLICIES") =>
        // retention is per-table TTL here (engine `ttl` option); expose the
        // InfluxDB default-policy shape clients expect
        Seq(("autogen", "0s", "168h0m0s", 1, true))
          .toDF("name", "duration", "shardGroupDuration", "replicaN", "default")
      case showTagKeysRe(measOpt) =>
        // IOx SHOW TAG KEYS: one row per (measurement, tag column)
        val ms = Option(measOpt).map(m => Seq(unquote(m)))
          .getOrElse(engine.catalog.list().sorted)
        ms.flatMap(m => engine.catalog.get(m).tagColumns.map(c => (m, c.name)))
          .toDF("iox::measurement", "tagKey")
      case showFieldKeysRe(measOpt) =>
        // IOx SHOW FIELD KEYS: non-tag, non-time columns with their influx
        // type name (float/integer/string/boolean)
        val ms = Option(measOpt).map(m => Seq(unquote(m)))
          .getOrElse(engine.catalog.list().sorted)
        ms.flatMap { m =>
          val sch = engine.catalog.get(m)
          sch.columns.filter(c => !c.isTag && c.name != sch.timestampKey)
            .map { c =>
              val t = c.kind match {
                case graft.model.DatumKind.String  => "string"
                case graft.model.DatumKind.Boolean => "boolean"
                case graft.model.DatumKind.Int64 | graft.model.DatumKind.Int32 |
                     graft.model.DatumKind.Int16 | graft.model.DatumKind.Int8 |
                     graft.model.DatumKind.UInt64 | graft.model.DatumKind.UInt32 |
                     graft.model.DatumKind.UInt16 | graft.model.DatumKind.UInt8 => "integer"
                case _ => "float"
              }
              (m, c.name, t)
            }
        }.toDF("iox::measurement", "fieldKey", "fieldType")
      case _ if trimmed.toUpperCase.startsWith("EXPLAIN ") =>
        // EXPLAIN SELECT: the engine's actual (Catalyst) plan — the
        // InfluxDB explain surface mapped onto what really executes here.
        // Only SELECT is explainable (matching InfluxDB's EXPLAIN
        // [ANALYZE] SELECT grammar): recursing into DELETE / DROP /
        // SELECT INTO / CQ statements would execute their side effects.
        val innerSql = trimmed.substring("EXPLAIN ".length).trim
        val innerUpper = innerSql.toUpperCase
        val hasInto = """(?is)^SELECT\s+.*?\s+INTO\s+[\w"]+\s+FROM\s""".r
          .findFirstIn(innerSql).isDefined
        if (!innerUpper.startsWith("SELECT") || hasInto)
          throw new IllegalArgumentException(
            "EXPLAIN supports only SELECT statements (without INTO)")
        val inner = run(engine, innerSql)
        inner.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          .linesIterator.toSeq.toDF("plan")
      case dropMeasRe(m) =>
        val name = unquote(m)
        val existed = engine.catalog.drop(name, ifExists = true)
        Seq((name, existed)).toDF("measurement", "dropped")
      case deleteRe(m, whereOpt) =>
        // DELETE FROM m [WHERE time/tag conds]: physical rewrite through
        // the engine's compaction path (generation flip) keeping the
        // complement. Bare DELETE truncates.
        val name = unquote(m)
        val schema = engine.catalog.get(name)
        val conds = Option(whereOpt).map(w =>
          splitTopKeyword(w, "AND").map(parseCond)).getOrElse(Nil)
        val condition = conds
          .map(condCol(_, schema.timestampKey))
          .reduceOption(_ && _).getOrElse(lit(true))
        engine.deleteWhere(name, condition)
        Seq((name, true)).toDF("measurement", "deleted")
      case createCqRe(name, bodyRaw) =>
        // continuous query = a stored SELECT ... INTO, persisted in the
        // warehouse (survives engine restarts); [[runContinuousQueries]]
        // re-materializes each one — a FULL recompute, idempotent through
        // INTO's overwrite mode (InfluxDB schedules incremental windows;
        // full recompute is the simpler correct form, documented)
        val body = bodyRaw.trim
        val stmt = parseSelect(body)
        require(stmt.into.isDefined,
          "continuous query body must be SELECT ... INTO target ...")
        val dir = java.nio.file.Paths.get(engine.warehouse, "_cq")
        java.nio.file.Files.createDirectories(dir)
        java.nio.file.Files.write(dir.resolve(unquote(name) + ".iql"),
          body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        Seq((unquote(name), body)).toDF("name", "query")
      case showCqRe() =>
        listCqs(engine).toDF("name", "query")
      case dropCqRe(name) =>
        val f = java.nio.file.Paths.get(engine.warehouse, "_cq",
          unquote(name) + ".iql")
        val existed = java.nio.file.Files.deleteIfExists(f)
        Seq((unquote(name), existed)).toDF("name", "dropped")
      case cardinalityRe(kind, measOpt) =>
        // SHOW <kind> CARDINALITY: EXACT counts (InfluxDB's default is a
        // sketch estimate; exact is its `EXACT ...` variant — the engine
        // computes the distinct directly, so exact is the cheap path here).
        // Series counts are tag-combo distincts — series-cardinality
        // sized, never the point count.
        val ms = Option(measOpt).map(m => Seq(unquote(m)))
          .getOrElse(engine.catalog.list().sorted)
        kind.toUpperCase.replaceAll("\\s+", " ") match {
          case "MEASUREMENT" =>
            Seq(ms.size.toLong).toDF("count")
          case "SERIES" =>
            ms.toList.map { m =>
              val tags = engine.catalog.get(m).tagColumns.map(_.name)
              val n =
                if (tags.isEmpty) math.min(engine.read(m).limit(1).count(), 1L)
                else engine.read(m).select(tags.map(col): _*).distinct().count()
              (m, n)
            }.toDF("iox::measurement", "count")
          case "TAG KEY" =>
            ms.map(m => (m, engine.catalog.get(m).tagColumns.size.toLong))
              .toDF("iox::measurement", "count")
          case "FIELD KEY" =>
            ms.map { m =>
              val sch = engine.catalog.get(m)
              (m, sch.columns.count(c =>
                !c.isTag && c.name != sch.timestampKey).toLong)
            }.toDF("iox::measurement", "count")
        }
      case tagValuesCardRe(measOpt, key) =>
        val k = unquote(key)
        val ms = Option(measOpt).map(m => Seq(unquote(m)))
          .getOrElse(engine.catalog.list().sorted)
        ms.filter(m => engine.catalog.get(m).tagColumns.exists(_.name == k))
          .map(m => (m, engine.read(m).select(col(k)).distinct().count()))
          .toDF("iox::measurement", "count")
      case showSeriesRe(measOpt) =>
        // SHOW SERIES: one row per stored series, formatted as the
        // line-protocol series key `measurement,tag1=v1,tag2=v2` with tag
        // keys in lexicographic order (InfluxDB output shape). The
        // distinct runs on the tag columns — series cardinality, never
        // the full point count.
        val ms = Option(measOpt).map(m => Seq(unquote(m)))
          .getOrElse(engine.catalog.list().sorted)
        ms.toList.map { m =>
          val tags = engine.catalog.get(m).tagColumns.map(_.name).sorted
          val keyParts = lit(m) +: tags.flatMap(k =>
            Seq(lit(s",$k="), col(k).cast("string")))
          engine.read(m).select(concat(keyParts: _*).as("key")).distinct()
        } match {
          case Nil => Seq.empty[String].toDF("key")
          case one :: rest => rest.foldLeft(one)(_ union _).orderBy("key")
        }
      case showTagValuesRe(measOpt, key) =>
        // IOx SHOW TAG VALUES WITH KEY = k: distinct stored values per table
        val ms = Option(measOpt).map(m => Seq(unquote(m)))
          .getOrElse(engine.catalog.list().sorted)
        val withKey = ms.filter(m =>
          engine.catalog.get(m).tagColumns.exists(_.name == key))
        withKey.toList.map { m =>
          engine.read(m).select(
            lit(m).as("iox::measurement"), lit(key).as("key"),
            col(key).cast("string").as("value")).distinct()
        } match {
          case Nil => Seq.empty[(String, String, String)]
            .toDF("iox::measurement", "key", "value")
          case one :: rest =>
            rest.foldLeft(one)(_ union _).orderBy("iox::measurement", "value")
        }
      case _ =>
        val stmt = parseSelect(trimmed)
        val out = lower(engine, stmt)
        stmt.into match {
          case None => out
          case Some(target) =>
            val written = writeInto(engine, target, out, stmt)
            maybeRegisterRollup(engine, target, stmt)
            written
        }
    }
  }

  /** After an INTO materialization, register the target as a transparent
    * rollup of the source measurement (plans/Rollups via
    * TsdbEngine.registerRollup) when the statement provably IS a faithful
    * grain rollup: plain count/sum/min/max aggregates over raw fields,
    * a fixed-width GROUP BY time() with no offset/tz shift, grouped on
    * real tag columns, `fill(none)` (the InfluxQL default fill(null)
    * materializes empty buckets — filler rows would surface as extra
    * result rows when served), and no WHERE (a filtered rollup cannot
    * serve unfiltered queries). Anything else silently skips — the
    * materialization itself is unaffected. Registration is invalidated by
    * any write to either table; re-running the CQ re-registers. */
  private def maybeRegisterRollup(
      engine: TsdbEngine, target: String, stmt: SelectStmt): Unit = {
    if (engine == null || stmt.groupTime.isEmpty) return
    if (stmt.conds.nonEmpty || stmt.condGroups.nonEmpty) return
    if (!stmt.fill.contains("none")) return
    if (stmt.tz.isDefined || stmt.groupTimeOffset.isDefined) return
    if (stmt.limit.isDefined || stmt.slimit.isDefined ||
        stmt.offset != 0 || stmt.soffset != 0) return
    if (stmt.source.isLeft == false) return
    val raw = stmt.measurement
    if (!engine.catalog.exists(raw)) return
    val rawSchema = engine.catalog.get(raw)
    val tagNames = rawSchema.tagColumns.map(_.name).toSet
    if (!stmt.groupTags.forall(tagNames.contains)) return
    val grainSeconds = cqGrainSeconds(stmt).getOrElse(return)
    var counts = Map.empty[String, String]
    var sums = Map.empty[String, String]
    var mins = Map.empty[String, String]
    var maxs = Map.empty[String, String]
    stmt.projections.foreach { p =>
      if (p.math.isDefined || p.transform.isDefined || p.aggArg.isDefined)
        return
      val outName = p.alias.getOrElse(p.agg.getOrElse(return))
      p.agg.get match {
        case "count" => counts += (p.field -> outName)
        case "sum"   => sums += (p.field -> outName)
        case "min"   => mins += (p.field -> outName)
        case "max"   => maxs += (p.field -> outName)
        case _ => return
      }
    }
    val outNames = counts.values ++ sums.values ++ mins.values ++ maxs.values
    if (outNames.toSet.size != outNames.size) return // ambiguous columns
    engine.registerRollup(
      s"cq:$target", raw, target, grainSeconds,
      tags = stmt.groupTags, bucketCol = "time",
      counts = counts, sums = sums, mins = mins, maxs = maxs)
  }

  /** Fixed epoch-aligned grain of a CQ's GROUP BY time(), when it has
    * one (UTC, no offset — month-ish durations are not fixed-width). */
  private def cqGrainSeconds(stmt: SelectStmt): Option[Long] = {
    import graft.functions.{TimePeriod => TP}
    val parsed = try Some(TP.parse(influxDurToPeriod(stmt.groupTime.getOrElse(
      return None)))) catch { case _: IllegalArgumentException => None }
    parsed.flatMap { case (unit, n) => unit match {
      case TP.SECOND => Some(n)
      case TP.MINUTE => Some(n * 60)
      case TP.HOUR   => Some(n * 3600)
      case TP.DAY    => Some(n * 86400) // UTC buckets: epoch-aligned
      case _ => None
    } }
  }

  /** Stored continuous queries, name-sorted. */
  private def listCqs(engine: TsdbEngine): Seq[(String, String)] = {
    val dir = java.nio.file.Paths.get(engine.warehouse, "_cq")
    if (!java.nio.file.Files.isDirectory(dir)) return Nil
    val fs = java.nio.file.Files.list(dir).iterator()
    val out = Seq.newBuilder[(String, String)]
    while (fs.hasNext) {
      val f = fs.next()
      if (f.toString.endsWith(".iql"))
        out += ((f.getFileName.toString.stripSuffix(".iql"),
          new String(java.nio.file.Files.readAllBytes(f),
            java.nio.charset.StandardCharsets.UTF_8)))
    }
    out.result().sortBy(_._1)
  }

  /** Re-materialize every stored continuous query (full recompute,
    * idempotent via INTO's overwrite mode). Returns (name, rows written). */
  def runContinuousQueries(engine: TsdbEngine): Seq[(String, Long)] =
    listCqs(engine).map { case (name, body) =>
      name -> runCqIncremental(engine, name, body)
    }

  /** One CQ re-materialization, incrementally when provably safe: for a
    * `fill(none)`, WHERE-less, fixed-grain CQ over an existing measurement
    * the run recomputes only the time SUFFIX from the earliest bucket that
    * received rows since the last run (tracked as a per-CQ (ingest-seq,
    * data-generation) watermark under `_cq/<name>.seq`) — buckets strictly
    * before it have no new rows and their materialized values stand; the
    * overwrite-mode target upserts the recomputed suffix per (time, tags).
    * A generation flip (compaction / DELETE rewrote storage) or any
    * non-incrementable statement shape falls back to the full recompute.
    * Late stragglers just widen the suffix — correct, only less
    * incremental. Rollup auto-registration applies the ORIGINAL statement
    * (the materialized table as a whole is the faithful rollup). */
  private def runCqIncremental(
      engine: TsdbEngine, name: String, body: String): Long = {
    val stmt = parseSelect(body)
    val grain = cqGrainSeconds(stmt)
    val incrementable = stmt.into.isDefined && stmt.source.isLeft &&
      grain.isDefined && stmt.conds.isEmpty && stmt.condGroups.isEmpty &&
      stmt.tz.isEmpty && stmt.groupTimeOffset.isEmpty &&
      stmt.fill.contains("none") && engine.catalog.exists(stmt.measurement)
    if (!incrementable)
      return run(engine, body).head().getAs[Long]("written")
    val raw = stmt.measurement
    val target = stmt.into.get
    val seqFile = java.nio.file.Paths.get(engine.warehouse, "_cq", s"$name.seq")
    val nowSeq = engine.currentSeq(raw) // appends during the run re-run next time
    val nowGen = engine.catalog.dataDir(raw)
    val watermark: Option[(Long, String)] =
      if (java.nio.file.Files.exists(seqFile)) {
        val lines = new String(java.nio.file.Files.readAllBytes(seqFile),
          java.nio.charset.StandardCharsets.UTF_8).linesIterator.toSeq
        if (lines.length >= 2) Some((lines(0).trim.toLong, lines(1).trim))
        else None
      } else None
    val written: Long = watermark match {
      case Some((since, gen)) if gen == nowGen && engine.catalog.exists(target) =>
        engine.minTsSince(raw, since) match {
          case None => 0L // nothing new: stored values stand
          case Some(minUs) =>
            val gUs = grain.get * 1000000L
            val floorUs = math.floorDiv(minUs, gUs) * gUs
            val suffix = stmt.copy(conds = stmt.conds :+
              Cond("time", ">=", s"${floorUs}u", isTime = true,
                valueIsNumber = true))
            writeInto(engine, target, lower(engine, suffix), suffix)
              .head().getAs[Long]("written")
        }
      case _ =>
        val out = lower(engine, stmt)
        writeInto(engine, target, out, stmt).head().getAs[Long]("written")
    }
    java.nio.file.Files.write(seqFile,
      s"$nowSeq\n$nowGen\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    maybeRegisterRollup(engine, target, stmt) // original statement shape
    written
  }

  /** INTO materialization through the engine's shared schema-inferring
    * append ([[TsdbEngine.appendInferring]]): a missing target is created
    * (time key; the select's GROUP BY tags become TAG columns; everything
    * else a typed field), and columns an existing target lacks are added.
    * Overwrite update-mode makes re-running the same INTO idempotent
    * (newest sequence wins per (time, tags) — the continuous-query
    * re-materialization semantic). Returns the InfluxDB-style summary row
    * (epoch-0 time, rows written). */
  private def writeInto(engine: TsdbEngine, target: String,
      result: DataFrame, stmt: SelectStmt): DataFrame = {
    import org.apache.spark.sql.types._
    import graft.model.{ColumnSpec, DatumKind, UpdateMode}
    val spark = result.sparkSession
    import spark.implicits._
    // tag-only grouped selects carry no time column — InfluxDB stamps 0
    val withTime =
      if (result.columns.contains("time")) result
      else result.withColumn("time", timestamp_micros(lit(0L)))
    def kindOf(dt: DataType): DatumKind.Value = dt match {
      case TimestampType      => DatumKind.Timestamp
      case LongType           => DatumKind.Int64
      case IntegerType        => DatumKind.Int32
      case BooleanType        => DatumKind.Boolean
      case StringType         => DatumKind.String
      case _                  => DatumKind.Double
    }
    val wanted = withTime.schema.fields.filter(_.name != "time").map { f =>
      // GROUP BY * reaches here unexpanded — its group keys are exactly
      // the string columns of the lowered frame
      ColumnSpec(f.name, kindOf(f.dataType),
        isTag = stmt.groupTags.contains(f.name) ||
          (stmt.groupTags.contains("*") && f.dataType == StringType))
    }.toSeq
    val pinned = withTime.cache()
    val n = pinned.count()
    engine.appendInferring(target, "time", UpdateMode.Overwrite, wanted,
      pinned.select(col("time") +: wanted.map(c => col(c.name)): _*))
    pinned.unpersist(false)
    Seq((new java.sql.Timestamp(0L), n)).toDF("time", "written")
  }

  private def unquote(s: String): String = s.stripPrefix("\"").stripSuffix("\"")

  private def timeLit(c: Cond): Column = {
    // `now() [± dur]` — relative bounds (Grafana's default time range);
    // evaluated once per query on the driver clock
    val nowRe = """(?i)now\(\)\s*(?:([+-])\s*(\w+))?""".r
    c.value.trim match {
      case nowRe(signOpt, durOpt) =>
        val base = System.currentTimeMillis() * 1000L
        val off = Option(durOpt).map(d =>
          graft.model.TableOptions.durationMillis(d) * 1000L).getOrElse(0L)
        return timestamp_micros(lit(
          if (signOpt == "-") base - off else base + off))
      case _ =>
    }
    // epoch literals: bare = nanoseconds (InfluxQL default), with the
    // s/ms/u duration suffixes (reference golden uses `...000ms`);
    // compared at the engine's micros precision — truncating to ms would
    // misplace sub-ms bounds
    if (c.valueIsNumber) {
      val re = """(\d+)(ns|ms|u|s)?""".r
      val us = c.value match {
        case re(n, suffix) => suffix match {
          case null | "ns" => n.toLong / 1000L
          case "u"         => n.toLong
          case "ms"        => n.toLong * 1000L
          case "s"         => n.toLong * 1000000L
        }
        case other =>
          throw new IllegalArgumentException(s"bad time literal '$other'")
      }
      timestamp_micros(lit(us))
    } else to_timestamp(lit(c.value))
  }

  private def condCol(c: Cond, tsCol: String): Column = {
    val lhs: Column = if (c.isTime) col(tsCol) else col(c.lhs)
    val rhs: Column = if (c.isTime) timeLit(c) else lit(c.value)
    c.op match {
      case ">=" => lhs >= rhs
      case "<=" => lhs <= rhs
      case ">"  => lhs > rhs
      case "<"  => lhs < rhs
      case "="  => lhs === rhs
      case "!=" => lhs =!= rhs
      case "=~" => lhs.cast("string").rlike(c.value)
      case "!~" => !lhs.cast("string").rlike(c.value)
    }
  }

  // ------------------------------------------------------------------ AST

  final case class Projection(agg: Option[String], field: String, alias: Option[String],
      // outer transformation fn (derivative/moving_average/...) + its
      // scalar argument (unit duration or window size)
      transform: Option[String] = None, transformArg: Option[String] = None,
      // selector argument (percentile's N)
      aggArg: Option[String] = None,
      // scalar math wrap (abs/sqrt/round/... around the field or aggregate)
      // + its numeric argument (log's base, pow's exponent)
      math: Option[String] = None, mathArg: Option[String] = None)
  final case class Cond(lhs: String, op: String, value: String, isTime: Boolean,
      valueIsNumber: Boolean)
  final case class SelectStmt(
      projections: Seq[Projection], source: Either[String, SelectStmt],
      conds: Seq[Cond], groupTime: Option[String], groupTags: Seq[String],
      // GROUP BY time(interval, offset): shifts preset bucket boundaries
      groupTimeOffset: Option[String] = None,
      fill: Option[String] = None, limit: Option[Int] = None,
      slimit: Option[Int] = None, offset: Int = 0, soffset: Int = 0,
      orderDesc: Boolean = false,
      tz: Option[String] = None,
      // parenthesized OR-groups from WHERE (each inner Seq ORs together,
      // groups AND with everything else)
      condGroups: Seq[Seq[Cond]] = Nil,
      // SELECT ... INTO target: materialize the result into an engine table
      into: Option[String] = None) {
    /** Measurement name for table-backed statements. */
    def measurement: String = source.left.getOrElse(
      throw new IllegalArgumentException("statement reads from a subquery"))
  }

  private val aggFns = Set("count", "sum", "mean", "min", "max", "first", "last",
    "median", "spread", "stddev", "percentile", "mode", "distinct", "integral",
    "top", "bottom", "sample")
  private val transformFns = Set("derivative", "non_negative_derivative",
    "difference", "non_negative_difference", "moving_average", "cumulative_sum",
    "holt_winters", "holt_winters_with_fit",
    "elapsed", "exponential_moving_average", "chande_momentum_oscillator",
    "kaufmans_efficiency_ratio", "relative_strength_index",
    "double_exponential_moving_average", "triple_exponential_moving_average",
    "kaufmans_adaptive_moving_average", "triple_exponential_derivative")
  // InfluxQL 1.x scalar math functions (query/math.go): element-wise over a
  // raw field or around an aggregate; log/pow take a numeric second argument
  private val mathFns = Set("abs", "sin", "cos", "tan", "asin", "acos", "atan",
    "ceil", "floor", "exp", "ln", "log2", "log10", "sqrt", "round",
    "log", "pow")

  /** Hand-rolled parser for the supported grammar:
    * {{{
    * SELECT proj [, proj]* FROM measurement
    *   [WHERE cond [AND cond]*]
    *   [GROUP BY time(dur) [, tag]* | tag [, tag]*] [fill(mode)]
    *   [LIMIT n] [SLIMIT n]
    * proj := agg(field) [AS alias] | field [AS alias] | *
    * cond := time >=|>|<=|< ts | tag =|!= 'value'
    * mode := none | null | previous | linear | <number>
    * }}} */
  def parseSelect(q: String): SelectStmt = {
    // SELECT ... INTO target FROM ... (continuous-query materialization):
    // peel the INTO clause off before the main clause regex
    val intoRe = """(?is)^(SELECT\s+.*?)\s+INTO\s+([\w"]+)\s+(FROM\s+.*)$""".r
    val (q2, into) = q.trim match {
      case intoRe(head, target, tail) => (s"$head $tail", Some(unquote(target)))
      case other => (other, None)
    }
    // FROM either a measurement name or a parenthesized subquery (InfluxQL
    // aggregate-of-aggregate downsampling); the subquery body is extracted
    // by paren matching before the outer clause regex runs
    val (body, source) = extractFrom(q2)
    val re = ("""(?is)^SELECT\s+(.*?)\s+FROM\s+__SRC__""" +
      """(?:\s+WHERE\s+(.*?))?(?:\s+GROUP\s+BY\s+(.*?))?""" +
      """(?:\s+fill\(\s*(none|null|previous|linear|-?[\d.]+)\s*\))?""" +
      """(?:\s+ORDER\s+BY\s+time\s+(ASC|DESC))?""" +
      """(?:\s+LIMIT\s+(\d+))?(?:\s+OFFSET\s+(\d+))?""" +
      """(?:\s+SLIMIT\s+(\d+))?(?:\s+SOFFSET\s+(\d+))?""" +
      """(?:\s+TZ\(\s*'([\w/+:-]+)'\s*\))?\s*$""").r
    body match {
      case re(projs, whereOpt, groupOpt, fillOpt, orderOpt, limitOpt,
          offsetOpt, slimitOpt, soffsetOpt, tzOpt) =>
        val projections = splitTop(projs).map(parseProjection)
        // WHERE = AND-list; an item may be a parenthesized OR-group of
        // tag conditions: `time >= X AND (host = 'a' OR host =~ /b/)`.
        // Time bounds must stay top-level (fill() reads them from conds).
        val simple = Seq.newBuilder[Cond]
        val groups = Seq.newBuilder[Seq[Cond]]
        Option(whereOpt).foreach { w =>
          splitTopKeyword(w, "AND").foreach { item =>
            val t = item.trim
            if (t.startsWith("(") && t.endsWith(")")) {
              val g = splitTopKeyword(t.substring(1, t.length - 1), "OR")
                .map(parseCond)
              require(g.forall(!_.isTime),
                "time bounds cannot appear inside OR groups")
              if (g.size == 1) simple += g.head else groups += g
            } else simple += parseCond(t)
          }
        }
        val conds = simple.result()
        var groupTime: Option[String] = None
        var groupTimeOff: Option[String] = None
        val groupTags = Seq.newBuilder[String]
        Option(groupOpt).foreach { g =>
          splitTop(g).foreach { item =>
            val t = item.trim
            val timeRe = """(?i)time\(\s*(\w+)\s*(?:,\s*(-?\w+)\s*)?\)""".r
            t match {
              case timeRe(d, off) =>
                groupTime = Some(d); groupTimeOff = Option(off)
              case _ => groupTags += unquote(t)
            }
          }
        }
        SelectStmt(projections, source,
          conds, groupTime, groupTags.result(), groupTimeOff,
          Option(fillOpt).map(_.toLowerCase),
          Option(limitOpt).map(_.toInt), Option(slimitOpt).map(_.toInt),
          Option(offsetOpt).map(_.toInt).getOrElse(0),
          Option(soffsetOpt).map(_.toInt).getOrElse(0),
          Option(orderOpt).exists(_.equalsIgnoreCase("DESC")),
          Option(tzOpt), condGroups = groups.result(), into = into)
      case _ => throw new IllegalArgumentException(s"unsupported InfluxQL: $q")
    }
  }

  /** Replace the FROM source with a placeholder and return it parsed:
    * `... FROM meas ...` or `... FROM ( select ) ...` (paren-matched). */
  private def extractFrom(q: String): (String, Either[String, SelectStmt]) = {
    val fromRe = """(?is)\bFROM\s+""".r
    val m = fromRe.findFirstMatchIn(q).getOrElse(
      throw new IllegalArgumentException(s"unsupported InfluxQL: $q"))
    val rest = q.substring(m.end)
    if (rest.startsWith("(")) {
      var depth = 0; var i = 0; var end = -1
      while (i < rest.length && end < 0) {
        rest(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1; if (depth == 0) end = i
          case _ =>
        }
        i += 1
      }
      require(end > 0, s"unbalanced parens in: $q")
      val inner = rest.substring(1, end).trim
      (q.substring(0, m.end) + "__SRC__" + rest.substring(end + 1),
        Right(parseSelect(inner)))
    } else {
      val nameRe = """^[\w".]+""".r
      val name = nameRe.findFirstIn(rest).getOrElse(
        throw new IllegalArgumentException(s"bad FROM in: $q"))
      (q.substring(0, m.end) + "__SRC__" + rest.substring(name.length),
        Left(unquote(name)))
    }
  }

  private def parseProjection(p: String): Projection = {
    val t = p.trim
    val aliasRe = """(?is)^(.*?)\s+AS\s+(\w+)$""".r
    val (body, alias) = t match {
      case aliasRe(b, a) => (b.trim, Some(a))
      case _             => (t, None)
    }
    val aggRe = """(?is)^(\w+)\s*\(\s*([\w"*]+)\s*(?:,\s*(-?[\d.]+\w*)\s*)?\)$""".r
    val cdRe = """(?is)^count\s*\(\s*distinct\s*\(?\s*([\w"]+)\s*\)?\s*\)$""".r
    val fnRe = """(?is)^(\w+)\s*\((.*)\)$""".r
    body match {
      case cdRe(field) =>
        Projection(Some("count_distinct"),
          field.stripPrefix("\"").stripSuffix("\""), alias)
      case aggRe(fn, field, arg) if aggFns(fn.toLowerCase) =>
        val f = fn.toLowerCase
        if (f == "percentile" || f == "top" || f == "bottom" || f == "sample")
          require(arg != null, s"$f(field, N) needs a numeric argument")
        else if (f == "integral") () // optional unit argument
        else require(arg == null, s"$f takes a single field argument")
        Projection(Some(f),
          field.stripPrefix("\"").stripSuffix("\""), alias,
          aggArg = Option(arg))
      case fnRe(fn, inner) if transformFns(fn.toLowerCase) =>
        // derivative(mean(value), 1s) / moving_average(mean(value), 4) /
        // cumulative_sum(sum(value)): the inner projection is an aggregate
        // (or bare field), the optional second argument a unit or size
        val parts = splitTop(inner)
        require(parts.nonEmpty, s"$fn needs an argument")
        val ip = parseProjection(parts.head)
        require(ip.transform.isEmpty, s"nested transformations unsupported: $body")
        // multi-argument transforms (holt_winters' N, S) keep the whole
        // tail, comma-joined; single-argument ones see just the argument
        ip.copy(alias = alias, transform = Some(fn.toLowerCase),
          transformArg =
            if (parts.size > 1) Some(parts.drop(1).mkString(",")) else None)
      case fnRe(fn, inner) if mathFns(fn.toLowerCase) =>
        // abs(value) on raw points, or round(mean(value)) around an
        // aggregate; log(field, base) / pow(field, exp) carry a number
        val f = fn.toLowerCase
        val parts = splitTop(inner)
        require(parts.nonEmpty, s"$f needs an argument")
        if (f == "log" || f == "pow")
          require(parts.size == 2, s"$f(field, n) needs a numeric argument")
        else require(parts.size == 1, s"$f takes a single argument")
        val ip = parseProjection(parts.head)
        require(ip.transform.isEmpty && ip.math.isEmpty,
          s"unsupported function composition: $body")
        require(ip.agg.forall(a => !Set("percentile", "top", "bottom",
          "distinct", "mode", "sample").contains(a)),
          s"math functions cannot wrap selector ${ip.agg.get}")
        ip.copy(alias = alias, math = Some(f), mathArg = parts.lift(1))
      case _ =>
        Projection(None, body.stripPrefix("\"").stripSuffix("\""), alias)
    }
  }

  private def parseCond(c: String): Cond = {
    val re = """(?s)^\s*([\w"]+)\s*(>=|<=|!=|<>|=|>|<)\s*(.*?)\s*$""".r
    // tag =~ /re/ and tag !~ /re/ (InfluxQL regex matchers — unanchored,
    // like Go's regexp.MatchString)
    val reRx = """(?s)^\s*([\w"]+)\s*(=~|!~)\s*/((?:[^/\\]|\\.)*)/\s*$""".r
    c match {
      case reRx(lhs, op, rx) =>
        Cond(lhs.stripPrefix("\"").stripSuffix("\""), op, rx,
          isTime = false, valueIsNumber = false)
      case re(lhs, op, rhs) =>
        val name = lhs.stripPrefix("\"").stripSuffix("\"")
        val isTime = name.equalsIgnoreCase("time")
        val isNum = !rhs.startsWith("'")
        Cond(name, if (op == "<>") "!=" else op,
          rhs.stripPrefix("'").stripSuffix("'"), isTime, isNum)
      case _ => throw new IllegalArgumentException(s"unsupported condition: $c")
    }
  }

  /** Split on a top-level keyword (case-insensitive, not inside parens
    * or quotes). Any Java whitespace delimits the keyword — a clause
    * wrapped as `... time >= '...'\nAND host='a'` must split the same as
    * its single-line spelling. */
  private def splitTopKeyword(s: String, kw: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0; var inStr = false; var last = 0
    val upper = s.toUpperCase
    val kwU = kw.toUpperCase
    var i = 0
    while (i < s.length) {
      s(i) match {
        case '\'' => inStr = !inStr
        case '(' if !inStr => depth += 1
        case ')' if !inStr => depth -= 1
        case _ =>
      }
      val hit = !inStr && depth == 0 &&
        Character.isWhitespace(s(i)) &&
        upper.startsWith(kwU, i + 1) &&
        i + 1 + kwU.length < s.length &&
        Character.isWhitespace(s(i + 1 + kwU.length))
      if (hit) {
        out += s.substring(last, i)
        i += 1 + kwU.length + 1
        last = i
      } else i += 1
    }
    out += s.substring(last)
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Split on top-level commas (not inside parens). */
  private def splitTop(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0; val cur = new StringBuilder
    s.foreach {
      case '(' => depth += 1; cur += '('
      case ')' => depth -= 1; cur += ')'
      case ',' if depth == 0 => out += cur.toString; cur.clear()
      case ch => cur += ch
    }
    if (cur.nonEmpty) out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  // ------------------------------------------------------------- lowering

  private def lower(engine: TsdbEngine, s0: SelectStmt): DataFrame = {
    // resolve FROM: an engine table, or a lowered subquery whose time
    // column is named `time` (raw selects alias it; grouped selects emit
    // their bucket as `time`) and whose series keys are its GROUP BY tags
    val (source, tsCol, tableTags) = s0.source match {
      case Left(meas) =>
        val schema = engine.catalog.get(meas)
        (engine.read(meas), schema.timestampKey, schema.tagColumns.map(_.name))
      case Right(inner) =>
        val df = lower(engine, inner)
        require(df.columns.contains("time"),
          "subquery must expose a `time` column (raw select or GROUP BY time())")
        (df, "time", inner.groupTags)
    }
    // GROUP BY * — every tag of the source (the Grafana per-series shape)
    val s = if (s0.groupTags.contains("*"))
      s0.copy(groupTags = tableTags) else s0
    var df = source

    s.conds.foreach(c => df = df.filter(condCol(c, tsCol)))
    s.condGroups.foreach(g =>
      df = df.filter(g.map(condCol(_, tsCol)).reduce(_ || _)))

    val isAgg = s.projections.exists(_.agg.isDefined)
    val ord: Column => Column = c => if (s.orderDesc) c.desc else c.asc
    if (!isAgg && s.projections.exists(_.transform.isDefined)) {
      // raw-point transformations: derivative(value, 1s) over the actual
      // samples, per series in time order — no bucketing, no aggregate
      require(s.projections.forall(_.transform.isDefined),
        "raw selects cannot mix plain fields with transformations")
      val fieldCols = s.projections.map(_.field).distinct.map(col)
      val base = df.select(
        (tableTags.map(col) :+ col(tsCol).as("time")) ++ fieldCols: _*)
      val named = nameTransforms(s.projections)
      var out = base.select(tableTags.map(col) :+ col("time"): _*).distinct()
      named.foreach { case (pr, outName) =>
        val t = applyTransform(base, "time", tableTags,
          pr.transform.get, pr.transformArg, outName, pr.field)
        out = out.join(t, tableTags :+ "time", "left")
      }
      out = out.filter(named.map(n => col(n._2).isNotNull).reduce(_ || _))
        .select((tableTags.map(col) :+ col("time")) ++ named.map(n => col(n._2)): _*)
        .orderBy(ord(col("time")))
      applyRowWindow(out, s)
    } else if (!isAgg) {
      // SLIMIT on raw points: keep the first n series in tag order
      val seriesCols = tableTags
      if (seriesCols.nonEmpty && (s.slimit.isDefined || s.soffset > 0))
        df = df.join(broadcast(
            seriesWindow(df, seriesCols, s.soffset, s.slimit)),
          seriesCols, "left_semi")
      val cols =
        if (s.projections.exists(_.field == "*")) {
          require(s.projections.forall(_.math.isEmpty),
            "math functions need a named field argument")
          df.columns.filterNot(_.startsWith("__"))
            .filterNot(_ == graft.model.TableSchema.TsidColumn).toSeq.map(col)
        }
        else (col(tsCol).as("time") +:
          // raw select GROUP BY tag: the tag is a series key, carried on
          // every point (InfluxDB raw-series split — the HTTP codec then
          // renders one series per tag combination)
          s.groupTags.map(col)) ++ s.projections.map { p =>
          val base = col(p.field)
          p.math match {
            case Some(fn) => applyMath(fn, p.mathArg, base)
              .as(p.alias.getOrElse(fn))
            case None => base.as(p.alias.getOrElse(p.field))
          }
        }
      val out = df.select(cols: _*).orderBy(ord(col(tsCol)))
      applyRowWindow(out, s)
    } else if (s.projections.exists(_.agg.contains("sample"))) {
      // sample(field, N): N points per (bucket, tags) group with their
      // original point times. InfluxDB reservoir-samples randomly
      // (query/functions.go SampleReduceSlice); we select by an md5 hash of
      // the point time instead — same uniform-ish spread, but deterministic
      // and re-runnable (documented deviation, COVERAGE.md), which also
      // makes the draw oracle-replayable in SQL.
      require(s.projections.size == 1, "sample() cannot be combined")
      val p0 = s.projections.head
      require(p0.math.isEmpty, "math functions cannot wrap sample()")
      val n = p0.aggArg.get.toDouble.toInt
      s.groupTime.foreach { d =>
        df = df.withColumn("__gtime",
          tzBucket(col(tsCol), influxDurToPeriod(d), s.tz, s.groupTimeOffset))
      }
      val partCols = (if (s.groupTime.isDefined) Seq(col("__gtime")) else Nil) ++
        s.groupTags.map(col)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(partCols: _*)
        .orderBy(md5(unix_micros(col(tsCol)).cast("string")), col(tsCol))
      val outName = p0.alias.getOrElse("sample")
      val out = df
        .filter(col(p0.field).isNotNull)
        .withColumn("__srk", row_number().over(w))
        .filter(col("__srk") <= n)
        .select((col(tsCol).as("time") +: s.groupTags.map(col)) :+
          col(p0.field).as(outName): _*)
        .orderBy(ord(col("time")))
      applyRowWindow(out, s)
    } else if (s.projections.exists(_.agg.exists(Set("top", "bottom")))) {
      // top(field, N) / bottom(field, N): multi-row selectors that keep the
      // N extreme points per (bucket, tags) group WITH their original point
      // times (InfluxDB selector semantics). Rank window per group — ties
      // break toward the earlier point, as InfluxDB's heap does.
      require(s.projections.size == 1, "top()/bottom() cannot be combined")
      val p0 = s.projections.head
      val fn = p0.agg.get
      val n = p0.aggArg.get.toDouble.toInt
      s.groupTime.foreach { d =>
        df = df.withColumn("__gtime",
          tzBucket(col(tsCol), influxDurToPeriod(d), s.tz, s.groupTimeOffset))
      }
      val partCols = (if (s.groupTime.isDefined) Seq(col("__gtime")) else Nil) ++
        s.groupTags.map(col)
      val v = col(p0.field)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(partCols: _*)
        .orderBy((if (fn == "top") v.desc else v.asc), col(tsCol).asc)
      val outName = p0.alias.getOrElse(fn)
      val out = df
        .withColumn("__rk", row_number().over(w))
        .filter(col("__rk") <= n)
        .select((col(tsCol).as("time") +: s.groupTags.map(col)) :+ v.as(outName): _*)
        .orderBy(ord(col("time")), col(outName))
      applyRowWindow(out, s)
    } else if (s.projections.exists(_.agg.contains("distinct"))) {
      // SELECT DISTINCT(field): a multi-row selector — one row per distinct
      // value per (bucket, tags) group; ungrouped output carries the epoch-0
      // time InfluxDB emits for whole-range selectors
      require(s.projections.size == 1, "distinct() cannot be combined with other projections")
      val p0 = s.projections.head
      s.groupTime.foreach { d =>
        df = df.withColumn("__gtime",
          tzBucket(col(tsCol), influxDurToPeriod(d), s.tz, s.groupTimeOffset))
      }
      val timeCol =
        if (s.groupTime.isDefined) col("__gtime") else timestamp_micros(lit(0L))
      val outName = p0.alias.getOrElse("distinct")
      val out = df
        .select((timeCol.as("time") +: s.groupTags.map(col)) :+
          col(p0.field).as(outName): _*)
        .distinct()
        .orderBy(ord(col("time")), col(outName))
      applyRowWindow(out, s)
    } else {
      // materialize the bucket once: the groupBy key and the percentile
      // rank-window partition must agree on the same computed column
      s.groupTime.foreach { d =>
        df = df.withColumn("__gtime",
          tzBucket(col(tsCol), influxDurToPeriod(d), s.tz, s.groupTimeOffset))
      }
      val keys: Seq[Column] =
        // InfluxQL buckets at UTC (the engine's time_bucket defaults to the
        // reference's +08:00 — override here), or in the TZ() clause's zone
        s.groupTime.map(_ => col("__gtime").as("time")).toSeq ++
        s.groupTags.map(col)
      val indexed = s.projections.zipWithIndex
      val (pctProjs, aggProjs) = indexed.partition(_._1.agg.contains("percentile"))
      // integral(field[, unit]): trapezoid between consecutive group samples,
      // precomputed as a lag-window column (partition = the group keys, so an
      // ungrouped whole-range integral serializes through one window — the
      // InfluxDB semantic, not a per-bucket scale path) and summed in the agg
      indexed.filter(_._1.agg.contains("integral")).foreach { case (p, i) =>
        val partCols = (if (s.groupTime.isDefined) Seq(col("__gtime")) else Nil) ++
          s.groupTags.map(col)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(partCols: _*)
          .orderBy(col(tsCol), col(p.field)) // value tie-break: same-ts rows pair deterministically
        val v = col(p.field)
        val dtSec =
          (unix_micros(col(tsCol)) - lag(unix_micros(col(tsCol)), 1).over(w)) / 1e6
        df = df.withColumn(s"__itg$i",
          (v + lag(v, 1).over(w)) / 2 * dtSec / influxDurToSeconds(p.aggArg))
      }
      val aggs = aggProjs.collect {
        case (p @ Projection(Some(fn), field, alias, _, _, _, _, _), i) =>
          val c = fn match {
            case "count" => count(col(field))
            case "sum"   => sum(col(field))
            case "mean"  => avg(col(field))
            case "min"   => min(col(field))
            case "max"   => max(col(field))
            // value at the earliest/latest timestamp, deterministically
            // (Spark's first/last pick an arbitrary partition-order row)
            case "first" => min_by(col(field), col(tsCol))
            case "last"  => max_by(col(field), col(tsCol))
            // median interpolates between the two middle points on even
            // counts (InfluxDB median = 50th-percentile selector)
            case "median" => percentile(col(field), lit(0.5))
            case "spread" => max(col(field)) - min(col(field))
            case "stddev" => stddev_samp(col(field))
            case "mode" =>
              // most frequent value, lowest wins ties (InfluxDB
              // ModeReduceSlice iterates ascending with strict >)
              expr(s"mode(`$field`, true)")
            case "count_distinct" => count_distinct(col(field))
            case "integral"       => sum(col(s"__itg$i"))
          }
          // a transformed projection aggregates under a temp name; the
          // transformation's output carries the user-facing name
          val defaultName =
            if (fn == "count_distinct") "count" else fn // InfluxDB naming
          c.as(if (p.transform.isDefined) s"__tv$i"
               else if (p.math.isDefined) s"__mv$i"
               else alias.getOrElse(defaultName))
      }
      var out =
        if (aggs.isEmpty) {
          // all-percentile SELECT: the selector joins below carry the values
          if (keys.isEmpty) df.sparkSession.range(1).select()
          else df.groupBy(keys: _*).agg(count(lit(1)).as("__g")).drop("__g")
        }
        else if (keys.isEmpty) df.agg(aggs.head, aggs.tail: _*)
        else df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)

      // math wraps around aggregates: element-wise on the finished
      // aggregate column, in place (column order preserved); runs before
      // fill so empty buckets fill the user-facing column
      val mathAggs = indexed.filter { case (p, _) =>
        p.math.isDefined && p.agg.isDefined }
      if (mathAggs.nonEmpty) {
        val wraps = mathAggs.map { case (p, i) =>
          s"__mv$i" -> ((p.math.get, p.mathArg, p.alias.getOrElse(p.math.get)))
        }.toMap
        out = out.select(out.columns.toSeq.map { cn =>
          wraps.get(cn) match {
            case Some((fn, arg, name)) => applyMath(fn, arg, col(cn)).as(name)
            case None => col(cn)
          }
        }: _*)
      }

      // percentile(field, N): InfluxDB nearest-rank selector (query/
      // functions.go PercentileReduceSlice) — the value at 1-based index
      // ⌊n·p/100 + 0.5⌋ of the group's ascending non-null values; out of
      // range → no value. Computed as a sort-based rank window + equality
      // filter, NOT a per-group collected array: the window sort spills and
      // scales to arbitrary group sizes, and one rank pass serves every
      // percentile projection on the same field.
      if (pctProjs.nonEmpty) {
        val partCols = (if (s.groupTime.isDefined) Seq("__gtime") else Nil) ++
          s.groupTags
        val joinCols = (if (s.groupTime.isDefined) Seq("time") else Nil) ++
          s.groupTags
        pctProjs.groupBy(_._1.field).foreach { case (field, projs) =>
          val w = Window.partitionBy(partCols.map(col): _*)
          val ranked = df.filter(col(field).isNotNull)
            .withColumn("__rn", row_number().over(w.orderBy(col(field))))
            .withColumn("__cnt", count(lit(1)).over(w))
          projs.foreach { case (p, i) =>
            val outName =
              if (p.transform.isDefined) s"__tv$i"
              else p.alias.getOrElse("percentile")
            val pct = p.aggArg.get.toDouble
            val sel = ranked
              .filter(col("__rn") ===
                floor(col("__cnt") * pct / 100.0 + lit(0.5)).cast("int"))
              .select(partCols.map(col) :+ col(field).as(outName): _*)
            out =
              if (joinCols.nonEmpty)
                out.join(
                  joinCols.zip(partCols).foldLeft(sel) { case (d, (j, pc)) =>
                    d.withColumnRenamed(pc, j) },
                  joinCols, "left")
              else out.withColumn("__j", lit(1))
                .join(sel.withColumn("__j", lit(1)), Seq("__j"), "left")
                .drop("__j")
          }
        }
      }

      // fill(): only meaningful with a time bucket. InfluxDB's DEFAULT for
      // GROUP BY time() is fill(null) — empty buckets materialize with null
      // aggregates (reference golden cases/env/local/influxql/basic.result:
      // the un-filled 5m grid reports count=null rows); fill(none) opts out
      val effFill = s.fill.orElse(if (s.groupTime.isDefined) Some("null") else None)
      (effFill, s.groupTime) match {
        case (Some(mode), Some(d)) if mode != "none" =>
          val lo = s.conds.find(c => c.isTime && (c.op == ">=" || c.op == ">"))
            .map(timeLit)
          val hi = s.conds.find(c => c.isTime && (c.op == "<=" || c.op == "<"))
            .map(c => if (c.op == "<") timeLit(c) - expr("INTERVAL 1 MICROSECOND")
                      else timeLit(c))
          out = applyFill(out, "time", s.groupTags, mode, d, lo, hi, s.tz,
            s.groupTimeOffset)
        case _ =>
      }

      // transformations over the (filled) grid, per series in time order;
      // each transformed projection windows its own aggregate column, then
      // left-joins back on (tags, bucket) — rows carrying only plain
      // aggregates survive; all-transform selects keep rows where at least
      // one transformation produced a point (InfluxDB result shape)
      val tProjs = s.projections.zipWithIndex.filter(_._1.transform.isDefined)
      if (tProjs.exists(_._1.transform.exists(_.startsWith("holt_winters")))) {
        // holt_winters(_with_fit): unlike the other transforms its output
        // rows extend PAST the grid (N forecast buckets), so there is no
        // (tags, time) join-back — the transform's frame IS the result
        require(s.groupTime.isDefined && tProjs.forall(_._1.agg.isDefined),
          "holt_winters requires an aggregate argument with GROUP BY time()")
        require(s.projections.size == 1,
          "holt_winters cannot be combined with other projections")
        val (pr, i) = tProjs.head
        val named = nameTransforms(s.projections)
        val stepUs =
          graft.model.TableOptions.durationMillis(s.groupTime.get) * 1000L
        out = applyHoltWinters(out, "time", s.groupTags, pr.transform.get,
          pr.transformArg, named.head._2, s"__tv$i", stepUs)
          .orderBy(ord(col("time")))
      } else if (tProjs.nonEmpty) {
        require(s.groupTime.isDefined && tProjs.forall(_._1.agg.isDefined),
          "transformations require an aggregate argument with GROUP BY time()")
        val named = nameTransforms(s.projections)
        val hasPlain = s.projections.exists(p =>
          p.agg.isDefined && p.transform.isEmpty)
        var joined = out
        tProjs.zip(named).foreach { case ((pr, i), (_, outName)) =>
          val t = applyTransform(out, "time", s.groupTags,
            pr.transform.get, pr.transformArg, outName, s"__tv$i")
          joined = joined.join(t, s.groupTags :+ "time", "left")
        }
        joined = joined.drop(tProjs.map { case (_, i) => s"__tv$i" }: _*)
        if (!hasPlain)
          joined = joined.filter(
            named.map(n => col(n._2).isNotNull).reduce(_ || _))
        out = joined
      }

      // SLIMIT: first n series (grouped tag combos); LIMIT: first n buckets
      // per series when series exist, else first n rows in time order
      if (s.groupTags.nonEmpty && (s.slimit.isDefined || s.soffset > 0))
        out = out.join(broadcast(
            seriesWindow(out, s.groupTags, s.soffset, s.slimit)),
          s.groupTags, "left_semi")
      if (s.limit.isDefined || s.offset > 0) {
        val lo = s.offset
        val hi = s.limit.map(lo + _).getOrElse(Int.MaxValue)
        out =
          if (s.groupTags.nonEmpty && s.groupTime.isDefined)
            out.withColumn("__rk", row_number().over(
                Window.partitionBy(s.groupTags.map(col): _*).orderBy(ord(col("time")))))
              .filter(col("__rk") > lo && col("__rk") <= hi).drop("__rk")
          else if (s.groupTime.isDefined) {
            val sorted = out.orderBy(ord(col("time")))
            s.limit.map(n => sorted.offset(lo).limit(n))
              .getOrElse(sorted.offset(lo))
          }
          else s.limit.map(n => out.offset(lo).limit(n)).getOrElse(out.offset(lo))
      }
      out
    }
  }

  /** Element-wise scalar math (InfluxDB query/math.go): ln is the natural
    * log, log(field, b) the base-b log, round half-away-from-zero to an
    * integer. Nulls pass through untouched. */
  private def applyMath(fn: String, arg: Option[String], c: Column): Column =
    fn match {
      case "abs"   => abs(c)
      case "sin"   => sin(c)
      case "cos"   => cos(c)
      case "tan"   => tan(c)
      case "asin"  => asin(c)
      case "acos"  => acos(c)
      case "atan"  => atan(c)
      case "ceil"  => ceil(c).cast("double")
      case "floor" => floor(c).cast("double")
      case "exp"   => exp(c)
      case "ln"    => log(c)
      case "log2"  => log2(c)
      case "log10" => log10(c)
      case "sqrt"  => sqrt(c)
      // Go math.Round = half away from zero = Spark's HALF_UP
      case "round" => round(c, 0)
      case "log"   => log(arg.get.toDouble, c)
      case "pow"   => pow(c, lit(arg.get.toDouble))
      case other   => throw new IllegalArgumentException(s"bad math fn $other")
    }

  /** Output names for transformed projections: alias, else the transform's
    * own name, deduplicated InfluxDB-style (derivative, derivative_1, …). */
  private def nameTransforms(ps: Seq[Projection]): Seq[(Projection, String)] = {
    val used = scala.collection.mutable.Map.empty[String, Int]
    ps.filter(_.transform.isDefined).map { p =>
      val base = p.alias.getOrElse(p.transform.get)
      val n = used.getOrElse(base, 0)
      used(base) = n + 1
      (p, if (n == 0) base else s"${base}_$n")
    }
  }

  /** Bucket `c` to `period` at UTC, or — with the `TZ()` clause — in the
    * named IANA zone: truncation happens in zone-local wall time, the
    * boundary converts back to a UTC instant. (Grid stepping across a DST
    * transition keeps fixed-duration intervals, like sequence().) */
  private def tzBucket(c: Column, period: String, tz: Option[String],
      off: Option[String] = None): Column = {
    def plain(x: Column): Column = tz match {
      case None => graft.functions.TimeBucket.timeBucket(x, period, "+00:00")
      case Some(z) => to_utc_timestamp(
        graft.functions.TimeBucket.timeBucket(
          from_utc_timestamp(x, z), period, "+00:00"), z)
    }
    off match {
      case None => plain(c)
      case Some(d) =>
        // time(interval, offset): boundaries shift by the (signed) offset —
        // bucket(t) = bucket(t − off) + off (InfluxDB preset-boundary shift)
        val us = signedDurUs(d)
        timestamp_micros(
          unix_micros(plain(timestamp_micros(unix_micros(c) - us))) + us)
    }
  }

  /** Signed InfluxQL duration → microseconds (offset arguments). */
  private def signedDurUs(d: String): Long = {
    val neg = d.startsWith("-")
    val us = graft.model.TableOptions.durationMillis(d.stripPrefix("-")) * 1000L
    if (neg) -us else us
  }

  /** InfluxQL transformation functions over the aggregated grid (the
    * IOx-planner surface the reference inherits; Grafana's rate panels):
    * per series (GROUP BY tags) in time order, skipping null buckets as
    * InfluxDB does — fill(null) rows never produce transformed points,
    * fill(0)/previous/linear rows are real values and do.
    *
    * All are window functions over (tags, time): no extra shuffle beyond
    * the window's hash partition by series, state per series = one bucket
    * row. derivative's first point, difference's first point and
    * moving_average's first n-1 points emit nothing (InfluxDB semantics).
    */
  private def applyTransform(
      agg: DataFrame, timeCol: String, tagCols: Seq[String],
      fn: String, arg: Option[String], outName: String,
      valueCol: String = "__tv"): DataFrame = {
    // secondary sort on the value keeps raw-point ties deterministic
    // (bucketed paths have unique times per series — no effect there)
    val w = Window.partitionBy(tagCols.map(col): _*)
      .orderBy(col(timeCol), col(valueCol))
    val v = col(valueCol)
    val base = agg.filter(v.isNotNull)
    val keep = tagCols.map(col) :+ col(timeCol)
    val out = fn match {
      case "derivative" | "non_negative_derivative" =>
        // rate of change per `arg` unit (default 1s) between consecutive
        // non-null buckets
        val unitUs = arg.map(d =>
          graft.model.TableOptions.durationMillis(d) * 1000L).getOrElse(1000000L)
        val dtUs = unix_micros(col(timeCol)) - lag(unix_micros(col(timeCol)), 1).over(w)
        base.withColumn(outName,
          (v - lag(v, 1).over(w)) / (dtUs.cast("double") / unitUs.toDouble))
      case "difference" | "non_negative_difference" =>
        base.withColumn(outName, v - lag(v, 1).over(w))
      case "moving_average" =>
        val n = arg.map(_.trim.toInt).getOrElse(
          throw new IllegalArgumentException("moving_average needs a window size"))
        require(n >= 1, "moving_average window must be >= 1")
        val frame = w.rowsBetween(-(n - 1), 0)
        base.withColumn(outName,
          when(count(v).over(frame) === n, avg(v).over(frame)))
      case "cumulative_sum" =>
        base.withColumn(outName,
          sum(v).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      case "chande_momentum_oscillator" | "kaufmans_efficiency_ratio" =>
        // both reduce to window algebra over the last N consecutive diffs
        // d_i = x_i − x_{i−1}: up − down = Σd and up + down = Σ|d|, so
        // CMO = 100·Σd / Σ|d| (Chande 1994) and, since x_t − x_{t−N} = Σd,
        // KER = |Σd| / Σ|d| (Kaufman's efficiency ratio). Emitted once N
        // diffs exist, like the moving_average warm-up.
        val n = arg.map(_.trim.toInt).getOrElse(
          throw new IllegalArgumentException(s"$fn needs a window size"))
        require(n >= 1, s"$fn window must be >= 1")
        val frame = w.rowsBetween(-(n - 1), 0)
        val withD = base.withColumn("__d", v - lag(v, 1).over(w))
        val sumD = sum(col("__d")).over(frame)
        val sumAbs = sum(abs(col("__d"))).over(frame)
        val value =
          if (fn == "chande_momentum_oscillator") lit(100.0) * sumD / sumAbs
          else abs(sumD) / sumAbs
        // a perfectly flat window (Σ|d| = 0) has no defined momentum /
        // efficiency — emit nothing (also keeps ANSI division happy)
        return withD
          .withColumn(outName,
            when(count(col("__d")).over(frame) === n && sumAbs =!= 0.0, value))
          .filter(col(outName).isNotNull)
          .select(keep :+ col(outName): _*)
      case "exponential_moving_average" | "relative_strength_index" |
           "double_exponential_moving_average" |
           "triple_exponential_moving_average" |
           "kaufmans_adaptive_moving_average" |
           "triple_exponential_derivative" =>
        // sequential recurrences — not window-expressible without
        // overflow-prone (1−α)^(−i) weights. ONE hash-by-series shuffle,
        // then the O(window)-state streaming kernel over each partition's
        // (series, t, v)-sorted iterator: a raw hot series never
        // materializes in memory (the sort spills), unlike a per-series
        // collect_list. Tag columns keep their original types.
        val n = arg.map(_.trim.toInt).getOrElse(throw new IllegalArgumentException(
          s"$fn needs a window size"))
        require(n >= 1, s"$fn window must be >= 1")
        val mk: () => graft.functions.TaStream.State = fn match {
          case "relative_strength_index" =>
            () => new graft.functions.TaStream.Rsi(n)
          case "double_exponential_moving_average" =>
            () => new graft.functions.TaStream.Dema(n, triple = false)
          case "triple_exponential_moving_average" =>
            () => new graft.functions.TaStream.Dema(n, triple = true)
          case "kaufmans_adaptive_moving_average" =>
            () => new graft.functions.TaStream.Kama(n)
          case "triple_exponential_derivative" =>
            () => new graft.functions.TaStream.Trix(n)
          case _ => () => new graft.functions.TaStream.Ema(n)
        }
        val projected = base.select(
          tagCols.map(col) :+ col(timeCol) :+ v.cast("double").as("__tav"): _*)
        // an untagged statement is ONE global series: chunked two-phase
        // evaluation (parallel range sort + state carried across chunk
        // boundaries) instead of a single-partition sort+walk — exact and
        // bit-identical to the serial recurrence, see TaChunked scaladoc.
        // The secondary __tav sort keeps raw-point time ties deterministic
        // (same tie-break as the windowed transforms above).
        if (tagCols.isEmpty)
          return graft.functions.TaChunked.runGlobal(
            projected, timeCol, "__tav", mk, outName)
        val parted = projected.repartition(tagCols.map(col): _*)
            .sortWithinPartitions(
              tagCols.map(col) :+ col(timeCol) :+ col("__tav"): _*)
        val outSchema = org.apache.spark.sql.types.StructType(
          parted.schema.fields.dropRight(1) :+
            org.apache.spark.sql.types.StructField(
              outName, org.apache.spark.sql.types.DoubleType))
        val k = tagCols.length
        return parted.mapPartitions(
          graft.functions.TaStream.run(_, k, mk))(
          org.apache.spark.sql.Encoders.row(outSchema))
      case "elapsed" =>
        // integer time delta between consecutive points in `arg` units
        // (InfluxDB default 1ns; engine resolution is µs → ×1000)
        val unitUs = arg
          .map(d => math.max(1L, graft.model.TableOptions.durationMillis(d) * 1000L))
          .getOrElse(0L) // 0 marks the ns default
        val dtUs = unix_micros(col(timeCol)) - lag(unix_micros(col(timeCol)), 1).over(w)
        base.withColumn(outName,
          if (unitUs == 0L) dtUs * 1000L else (dtUs / unitUs).cast("long"))
      case "holt_winters" | "holt_winters_with_fit" =>
        throw new IllegalArgumentException(
          "holt_winters requires GROUP BY time()")
      case other =>
        throw new IllegalArgumentException(s"unsupported transformation: $other")
    }
    val nonNeg = fn.startsWith("non_negative")
    out.filter(col(outName).isNotNull &&
        (if (nonNeg) col(outName) >= 0 else lit(true)))
      .select(keep :+ col(outName): _*)
  }

  /** `holt_winters(agg, N, S)` / `holt_winters_with_fit`: additive
    * Holt-Winters (level + trend + S-length additive season; S = 0 drops
    * the seasonal component, leaving Holt's linear trend) over each
    * series' `GROUP BY time()` grid, forecasting N buckets past the last
    * in-sample point; the `_with_fit` form also emits the one-step-ahead
    * fitted value at every in-sample bucket after the first.
    *
    * Deliberate deviation, documented in COVERAGE.md: InfluxDB fits
    * α/β/γ per series by Nelder-Mead on SSE (influxql/query/
    * holt_winters.go); here all three are fixed at 0.5 — deterministic,
    * engine-replayable (0.5 is exact in binary, so a recursive-CTE oracle
    * reproduces the recurrence bit-for-bit), and still genuinely
    * trend+season-following. Same scale posture as the other TA
    * recurrences: one hash-by-series shuffle, O(S) state per series,
    * nothing materialized ([[graft.functions.TaStream]]).
    */
  private def applyHoltWinters(
      agg: DataFrame, timeCol: String, tagCols: Seq[String],
      fn: String, arg: Option[String], outName: String, valueCol: String,
      stepUs: Long): DataFrame = {
    val parts = arg.map(_.split(",").map(_.trim).toSeq).getOrElse(Nil)
    require(parts.size == 2,
      s"$fn(field, N, S) needs forecast count and season length")
    val nFc = parts(0).toInt
    val season = parts(1).toInt
    require(nFc >= 1, "holt_winters forecast count must be >= 1")
    require(season >= 0, "holt_winters season length must be >= 0")
    val withFit = fn == "holt_winters_with_fit"
    val v = col(valueCol)
    val projected = agg.filter(v.isNotNull).select(
      tagCols.map(col) :+ col(timeCol) :+ v.cast("double").as("__hwv"): _*)
    // untagged = one global series: chunked two-phase evaluation (see
    // TaChunked scaladoc) instead of a single-partition sort+walk
    if (tagCols.isEmpty)
      return graft.functions.TaChunked.runGlobalHoltWinters(
        projected, timeCol, "__hwv", season, nFc, withFit, stepUs, outName)
    val parted = projected.repartition(tagCols.map(col): _*)
        .sortWithinPartitions(
          tagCols.map(col) :+ col(timeCol) :+ col("__hwv"): _*)
    val outSchema = org.apache.spark.sql.types.StructType(
      parted.schema.fields.dropRight(1) :+
        org.apache.spark.sql.types.StructField(
          outName, org.apache.spark.sql.types.DoubleType))
    val k = tagCols.length
    parted.mapPartitions(
      graft.functions.TaStream.runHoltWinters(
        _, k, season, nFc, withFit, stepUs))(
      org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Row pagination: OFFSET skips, LIMIT caps (frames arrive ordered). */
  private def applyRowWindow(out: DataFrame, s: SelectStmt): DataFrame = {
    val stepped = if (s.offset > 0) out.offset(s.offset) else out
    s.limit.map(stepped.limit).getOrElse(stepped)
  }

  /** Series (soffset, soffset + slimit] in tag order — SLIMIT/SOFFSET. */
  private def seriesWindow(df: DataFrame, seriesCols: Seq[String],
      soffset: Int, slimit: Option[Int]): DataFrame = {
    val hi = slimit.map(soffset + _).getOrElse(Int.MaxValue)
    df.select(seriesCols.map(col): _*).distinct()
      .withColumn("__srk", dense_rank().over(Window.orderBy(seriesCols.map(col): _*)))
      .filter(col("__srk") > soffset && col("__srk") <= hi).drop("__srk")
  }

  /** Materialize empty buckets and fill them. The grid spans
    * [bucket(lower), bucket(upper)] — explicit WHERE time bounds when
    * given, otherwise EACH SERIES' observed min/max (InfluxDB only fills a
    * series within its own lifetime) — generated per observed series via
    * `sequence()` + explode: pure column ops, so grids of any size stay
    * distributed. An inverted range (empty WHERE window) yields zero rows
    * rather than a sequence error.
    *
    * Modes: `null` → grid rows keep null aggregates; `<number>` → nulls
    * become the constant; `previous` → last non-null earlier bucket of the
    * same series; `linear` → interpolate between the neighboring non-null
    * buckets (interior gaps only, like InfluxDB).
    */
  private def applyFill(
      agg: DataFrame, timeCol: String, tagCols: Seq[String], mode: String,
      dur: String, lo: Option[Column], hi: Option[Column],
      tz: Option[String] = None, off: Option[String] = None): DataFrame = {
    val (stepN, stepUnit) = influxDurParts(dur)
    val period = influxDurToPeriod(dur)
    def bucketOf(c: Column): Column = tzBucket(c, period, tz, off)
    val aggCols = agg.schema.fields
      .filterNot(f => f.name == timeCol || tagCols.contains(f.name))

    // explicit WHERE bounds are literal expressions: evaluate their buckets
    // NOW (a 1-row local query — resolves timezone-aware literals) — an
    // all-literal inverted sequence() would throw during constant folding,
    // before any runtime filter could guard it
    def evalUs(c: Column): Long = agg.sparkSession.range(1)
      .select(unix_micros(bucketOf(c))).head().getLong(0)
    val loLit = lo.map(evalUs)
    val hiLit = hi.map(evalUs)
    if (loLit.isDefined && hiLit.isDefined && loLit.get > hiLit.get)
      // empty window: zero rows, same output shape
      return agg.filter(lit(false))
        .select((tagCols.map(col) :+ col(timeCol)) ++
          aggCols.map(f => col(f.name)): _*)

    // one row per observed series carrying its own time bounds (doubles as
    // the distinct-series frame, so no separate bounds job)
    val series =
      if (tagCols.nonEmpty)
        agg.groupBy(tagCols.map(col): _*)
          .agg(min(col(timeCol)).as("__dlo"), max(col(timeCol)).as("__dhi"))
      else agg.agg(min(col(timeCol)).as("__dlo"), max(col(timeCol)).as("__dhi"))
    val loC = loLit.map(us => timestamp_micros(lit(us))).getOrElse(col("__dlo"))
    val hiC = hiLit.map(us => timestamp_micros(lit(us))).getOrElse(col("__dhi"))
    val grid = series
      // no observed data → no rows (even with explicit bounds, like
      // InfluxDB); a runtime-inverted window (explicit bound vs data
      // bound) → no rows rather than a sequence error
      .filter(col("__dlo").isNotNull && loC <= hiC)
      .select(tagCols.map(col) :+
        explode(sequence(loC, hiC, expr(s"INTERVAL $stepN $stepUnit")))
          .as(timeCol): _*)
    val joined = grid.join(agg, tagCols :+ timeCol, "left")
      .select((tagCols.map(col) :+ col(timeCol)) ++
        aggCols.map(f => col(f.name)): _*)

    val w = Window.partitionBy(tagCols.map(col): _*).orderBy(col(timeCol))
    mode match {
      case "null" => joined
      case "previous" =>
        aggCols.foldLeft(joined) { (d, f) =>
          d.withColumn(f.name, coalesce(col(f.name),
            last(col(f.name), ignoreNulls = true)
              .over(w.rowsBetween(Window.unboundedPreceding, -1))))
        }
      case "linear" =>
        aggCols.foldLeft(joined) { (d, f) =>
          val c = col(f.name)
          val pv = last(when(c.isNotNull, struct(col(timeCol).as("t"), c.as("v"))),
            ignoreNulls = true).over(w.rowsBetween(Window.unboundedPreceding, -1))
          val nv = first(when(c.isNotNull, struct(col(timeCol).as("t"), c.as("v"))),
            ignoreNulls = true).over(w.rowsBetween(1, Window.unboundedFollowing))
          val frac = (unix_micros(col(timeCol)) - unix_micros(pv("t"))).cast("double") /
            (unix_micros(nv("t")) - unix_micros(pv("t"))).cast("double")
          d.withColumn(f.name, coalesce(c,
            when(pv.isNotNull && nv.isNotNull,
              (pv("v").cast("double") +
                (nv("v").cast("double") - pv("v").cast("double")) * frac)
                .cast(f.dataType))))
        }
      case num =>
        val v = num.toDouble // parser guarantees numeric here
        aggCols.foldLeft(joined) { (d, f) =>
          d.withColumn(f.name, coalesce(col(f.name), lit(v).cast(f.dataType)))
        }
    }
  }

  /** InfluxQL `time(1h)` durations → time_bucket ISO-ish periods. Weeks map
    * to 7-day epoch-aligned buckets (InfluxDB's duration semantics) — NOT
    * `P1W`, whose engine implementation reproduces the reference's quirky
    * calendar truncate_week for golden compatibility. */
  private def influxDurToPeriod(d: String): String = {
    val re = """(\d+)([smhdw])""".r
    d match {
      case re(n, "s") => s"PT${n}S"
      case re(n, "m") => s"PT${n}M"
      case re(n, "h") => s"PT${n}H"
      case re(n, "d") => s"P${n}D"
      case re(n, "w") => s"P${n.toInt * 7}D"
      case other => throw new IllegalArgumentException(s"bad duration '$other'")
    }
  }

  /** integral()'s unit argument in seconds (default 1s — InfluxDB). */
  private def influxDurToSeconds(arg: Option[String]): Double = arg match {
    case None => 1.0
    case Some(d) =>
      val re = """(\d+)(ms|[smhdw])""".r
      d match {
        case re(n, "ms") => n.toDouble / 1000
        case re(n, "s")  => n.toDouble
        case re(n, "m")  => n.toDouble * 60
        case re(n, "h")  => n.toDouble * 3600
        case re(n, "d")  => n.toDouble * 86400
        case re(n, "w")  => n.toDouble * 604800
        case other => throw new IllegalArgumentException(s"bad integral unit '$other'")
      }
  }

  /** Same durations as (count, SQL interval unit) for `sequence()` steps. */
  private def influxDurParts(d: String): (Int, String) = {
    val re = """(\d+)([smhdw])""".r
    d match {
      case re(n, "s") => (n.toInt, "SECOND")
      case re(n, "m") => (n.toInt, "MINUTE")
      case re(n, "h") => (n.toInt, "HOUR")
      case re(n, "d") => (n.toInt, "DAY")
      case re(n, "w") => (n.toInt * 7, "DAY")
      case other => throw new IllegalArgumentException(s"bad duration '$other'")
    }
  }
}
