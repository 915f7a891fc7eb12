package graft.opentsdb

import graft.engine.TsdbEngine
import graft.model.{ColumnSpec, DatumKind, UpdateMode}
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.promql.PromQL.SeriesTable

/** OpenTSDB query frontend (reference: query_frontend/src/opentsdb/mod.rs).
  *
  * Each subquery lowers to scan → filter(time ∧ tags) → optional
  * group-by(tags, ts) aggregate — exactly the reference's plan shape
  * (mod.rs:137-203). Aggregators: sum/count/avg/min/max/dev/none
  * (mod.rs:121-131; dev = sample standard deviation); tag filters
  * `literal_or` / `not_literal_or` (mod.rs:104-113). The value column is
  * fixed per binding, mirroring the reference's fixed `value` field
  * (mod.rs:45). Like the reference, `downsample`/`rate` are accepted in the
  * JSON but not applied (opentsdb/types.rs:36-39 parses them; planning
  * ignores them).
  *
  * Plain declarative DataFrame ops end-to-end: time/tag filters reach the
  * parquet scan, the aggregate is a single keyed shuffle.
  */
object OpenTsdb {

  final case class TagFilter(
      ftype: String, tagk: String, filter: String, groupBy: Boolean)
  final case class SubQuery(
      metric: String, aggregator: String,
      tags: Map[String, String], filters: Seq[TagFilter],
      downsample: Option[String] = None, rate: Boolean = false)
  final case class Query(startMs: Long, endMs: Long, queries: Seq[SubQuery])

  /** Parse the OpenTSDB `/api/query` JSON body. */
  def parseQuery(json: String): Query = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmt: Formats = DefaultFormats
    val root = JsonMethods.parse(json)
    val start = (root \ "start").extract[Long]
    val end = (root \ "end").extractOpt[Long].getOrElse(Long.MaxValue)
    val subs = (root \ "queries") match {
      case JArray(qs) => qs.map { q =>
        SubQuery(
          metric = (q \ "metric").extract[String],
          aggregator = (q \ "aggregator").extract[String].toLowerCase,
          tags = (q \ "tags").extractOpt[Map[String, String]].getOrElse(Map.empty),
          rate = (q \ "rate").extractOpt[Boolean].getOrElse(false),
          filters = (q \ "filters") match {
            case JArray(fs) => fs.map { f =>
              TagFilter(
                (f \ "type").extract[String].toLowerCase,
                (f \ "tagk").extract[String],
                (f \ "filter").extract[String],
                (f \ "groupBy").extractOpt[Boolean].getOrElse(false))
            }
            case _ => Nil
          },
          downsample = (q \ "downsample").extractOpt[String])
      }
      case _ => Nil
    }
    Query(start, end, subs)
  }

  /** One DataFrame per subquery. Output: grouped tag columns + ts + value
    * (aggregator != none), or tag columns + ts + value raw datapoints. */
  def run(q: Query, resolve: String => SeriesTable): Seq[DataFrame] =
    q.queries.map(runSub(q, _, resolve))

  def runSub(q: Query, sub: SubQuery, resolve: String => SeriesTable,
      applyDownsample: Boolean = false, applyRate: Boolean = false): DataFrame = {
    val t = resolve(sub.metric)
    // OpenTSDB time bounds are inclusive; `end` is optional (open-ended)
    var df = t.df.filter(col(t.tsCol) >= timestamp_millis(lit(q.startMs)))
    if (q.endMs != Long.MaxValue)
      df = df.filter(col(t.tsCol) <= timestamp_millis(lit(q.endMs)))

    // downsample "interval-agg" pre-aggregates each SERIES (full tag set)
    // onto the interval grid before the cross-series aggregator. The
    // reference parses-but-ignores downsample (opentsdb/types.rs:36-39), so
    // this is opt-in — default keeps reference-faithful behavior.
    val (tsCol2, df2) =
      sub.downsample.filter(_ => applyDownsample) match {
        case Some(ds) =>
          val parts = ds.split('-')
          require(parts.length >= 2, s"bad downsample '$ds'")
          val bucket = dsBucket(col(t.tsCol), parts(0))
          val dsAgg = aggFn(parts(1), col(t.valueCol))
          val keys = t.tags.map(col) :+ bucket.as("__ds_ts")
          val grouped = df.groupBy(keys: _*).agg(dsAgg.as(t.valueCol))
          // OpenTSDB 2.x fill policy ("interval-agg-fill"): emit every
          // interval bucket between each series' first and last sample so
          // the cross-series aggregator sees ALIGNED timestamps (the
          // reason fill exists). none (default) skips empty buckets;
          // zero/nan substitute; null keeps the bucket with a null value.
          ("__ds_ts", parts.lift(2).map(_.toLowerCase) match {
            case None | Some("none") => grouped
            case Some(policy) =>
              val stepUs = dsStepUs(parts(0))
              val sCols = t.tags.map(col)
              // bounds are the series' observed buckets, which the time
              // filter above already clamped to the query's [start, end]
              // (OpenTSDB aligns fill to the query range; an out-of-range
              // sample can't widen the grid because it never reaches here)
              val bounds = grouped.groupBy(sCols: _*)
                .agg(min("__ds_ts").as("__lo"), max("__ds_ts").as("__hi"))
              // two-level grid generation: a sparse series over a long
              // range with a fine step (500ms over months) must not
              // materialize one span-length sequence() array — emit chunk
              // starts first (span/1000 elements), then ≤1000 buckets per
              // chunk, so every in-flight array is bounded regardless of
              // span while the row count stays exactly the grid size
              val chunkLen = 1000L
              val chunkUs = stepUs * chunkLen
              val grid = bounds
                .select(sCols :+ explode(sequence(
                  col("__lo"), col("__hi"),
                  expr(s"INTERVAL $chunkUs MICROSECOND"))).as("__chunk")
                  :+ col("__hi"): _*)
                .select(sCols :+ explode(sequence(
                  col("__chunk"),
                  least(col("__hi"), col("__chunk") +
                    expr(s"INTERVAL ${stepUs * (chunkLen - 1)} MICROSECOND")),
                  expr(s"INTERVAL $stepUs MICROSECOND"))).as("__ds_ts"): _*)
              val joined = grid.join(grouped, t.tags :+ "__ds_ts", "left")
              policy match {
                case "zero" => joined.withColumn(t.valueCol,
                  coalesce(col(t.valueCol), lit(0.0)))
                case "nan" => joined.withColumn(t.valueCol,
                  coalesce(col(t.valueCol), lit(Double.NaN)))
                case "null" => joined
                case other => throw new IllegalArgumentException(
                  s"unsupported fill policy '$other'")
              }
          })
        case None => (t.tsCol, df)
      }
    val tEff = t.copy(tsCol = tsCol2)
    val agged = runAggregation(q, sub, tEff, df2)
    // rate (opt-in like downsample — the reference parses-but-ignores it
    // too): dv/dt in units/second between consecutive points of each
    // OUTPUT series, i.e. AFTER the cross-series aggregator — OpenTSDB
    // 2.x's documented order of operations (filtering → grouping →
    // downsampling → aggregation → rate conversion), so a group holding
    // several series gets the rate of the aggregate, not the aggregate of
    // rates. For aggregator "none" the output series are the raw tag sets,
    // so this degrades to per-series rate. First point emits nothing.
    if (sub.rate && applyRate) {
      val partCols = agged.columns.filterNot(c => c == "ts" || c == "value")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(partCols.map(col): _*).orderBy(col("ts"))
      val dtSec =
        (unix_millis(col("ts")) - lag(unix_millis(col("ts")), 1).over(w)) / 1000.0
      val dv = col("value") - lag(col("value"), 1).over(w)
      agged.withColumn("value", dv / dtSec).filter(col("value").isNotNull)
    } else agged
  }

  private def runAggregation(
      q: Query, sub: SubQuery, t: SeriesTable, df0: DataFrame): DataFrame = {
    var df = df0

    // tags map = implicit literal_or, always grouped (OpenTSDB 2.x semantics)
    val tagConds: Seq[(String, Column, Boolean)] =
      sub.tags.toSeq.map { case (k, v) =>
        (k, literalOr(col(k), v), true)
      } ++ sub.filters.map { f =>
        // the reference's surface is literal_or/not_literal_or; the rest of
        // the OpenTSDB 2.x filter family (net.opentsdb.query.filter.*) is
        // beyond-reference convenience with the documented semantics:
        // wildcard = '*' glob (case-sensitive; iwildcard folds case),
        // regexp = full-match Java regex, iliteral_or = case-folded set
        val c = f.ftype match {
          case "literal_or"      => literalOr(col(f.tagk), f.filter)
          case "not_literal_or"  => !literalOr(col(f.tagk), f.filter)
          case "iliteral_or"     => literalOr(lower(col(f.tagk)), f.filter.toLowerCase)
          case "not_iliteral_or" => !literalOr(lower(col(f.tagk)), f.filter.toLowerCase)
          case "wildcard"        => globMatch(col(f.tagk), f.filter)
          case "iwildcard"       => globMatch(lower(col(f.tagk)), f.filter.toLowerCase)
          case "regexp"          => col(f.tagk).cast("string").rlike("^(?:" + f.filter + ")$")
          case other =>
            throw new IllegalArgumentException(s"unsupported filter type '$other'")
        }
        (f.tagk, c, f.groupBy)
      }
    tagConds.foreach { case (_, c, _) => df = df.filter(c) }

    val groupTags = tagConds.collect { case (k, _, true) => k }.distinct
    sub.aggregator match {
      case "none" =>
        df.select((t.tags.map(c => col(c).cast("string")) :+
          col(t.tsCol).as("ts") :+ col(t.valueCol).as("value")): _*)
          .orderBy(col("ts"))
      case agg =>
        val fn: Column = agg match {
          case "sum"   => sum(col(t.valueCol))
          case "count" => count(lit(1)).cast("double")
          case "avg"   => avg(col(t.valueCol))
          case "min"   => min(col(t.valueCol))
          case "max"   => max(col(t.valueCol))
          case "dev"   => stddev_samp(col(t.valueCol))
          // OpenTSDB 2.x percentile aggregators (net.opentsdb.core
          // Aggregators.p###): exact linear-interpolation percentile over
          // the group, same estimator as the SQL surface's percentile
          case PctAgg(q) => percentile(col(t.valueCol), lit(q))
          case other =>
            throw new IllegalArgumentException(s"unsupported aggregator '$other'")
        }
        val keys = groupTags.map(k => col(k).cast("string").as(k)) :+
          col(t.tsCol).as("ts")
        df.groupBy(keys: _*).agg(fn.as("value"))
    }
  }

  /** Downsample aggregator (per-series pre-aggregation). */
  private def aggFn(name: String, c: Column): Column = name.toLowerCase match {
    case "sum"   => sum(c)
    case "count" => count(c).cast("double")
    case "avg"   => avg(c)
    case "min"   => min(c)
    case "max"   => max(c)
    case "dev"   => stddev_samp(c)
    case PctAgg(q) => percentile(c, lit(q))
    case other => throw new IllegalArgumentException(
      s"unsupported downsample aggregator '$other'")
  }

  /** "p50"/"p75"/"p90"/"p95"/"p99"/"p999" → quantile fraction. */
  private object PctAgg {
    def unapply(name: String): Option[Double] = name match {
      case "p50"  => Some(0.5)
      case "p75"  => Some(0.75)
      case "p90"  => Some(0.9)
      case "p95"  => Some(0.95)
      case "p99"  => Some(0.99)
      case "p999" => Some(0.999)
      case _      => None
    }
  }

  /** Downsample interval → grid step in microseconds (fill-policy grids). */
  private def dsStepUs(interval: String): Long = {
    val re = """(\d+)(ms|s|m|h|d)""".r
    interval match {
      case re(n, "ms") => n.toLong * 1000L
      case re(n, "s")  => n.toLong * 1000000L
      case re(n, "m")  => n.toLong * 60000000L
      case re(n, "h")  => n.toLong * 3600000000L
      case re(n, "d")  => n.toLong * 86400000000L
      case other => throw new IllegalArgumentException(s"bad downsample interval '$other'")
    }
  }

  /** Downsample interval (`500ms`, `10s`, `30m`, `1h`, `2d`) → bucket start.
    * Second-and-coarser goes through time_bucket (same truncation as the SQL
    * surface); sub-second uses direct epoch-millis floor arithmetic, which
    * time_bucket's period grammar (PT{n}S floor) cannot express. */
  private def dsBucket(ts: Column, interval: String): Column = {
    val re = """(\d+)(ms|s|m|h|d)""".r
    interval match {
      case re(n, "ms") =>
        val w = n.toLong
        timestamp_millis((floor(unix_millis(ts) / w) * w).cast("long"))
      case re(n, "s") => graft.functions.TimeBucket.timeBucket(ts, s"PT${n}S", "+00:00")
      case re(n, "m") => graft.functions.TimeBucket.timeBucket(ts, s"PT${n}M", "+00:00")
      case re(n, "h") => graft.functions.TimeBucket.timeBucket(ts, s"PT${n}H", "+00:00")
      case re(n, "d") => graft.functions.TimeBucket.timeBucket(ts, s"P${n}D", "+00:00")
      case other => throw new IllegalArgumentException(s"bad downsample interval '$other'")
    }
  }

  /** OpenTSDB literal_or: `v1|v2|v3` — exact-match disjunction. */
  private def literalOr(c: Column, pattern: String): Column = {
    val vals = pattern.split('|').map(_.trim).filter(_.nonEmpty)
    c.cast("string").isInCollection(vals)
  }

  /** OpenTSDB wildcard filter: '*' globs, everything else literal. */
  private def globMatch(c: Column, pattern: String): Column = {
    val regex = pattern.split("\\*", -1)
      .map(java.util.regex.Pattern.quote).mkString(".*")
    c.cast("string").rlike("^(?:" + regex + ")$")
  }

  // ---------------- /api/put ingest ----------------

  /** One OpenTSDB put datapoint (reference: proxy/src/opentsdb/types.rs:81
    * struct Point — metric, timestamp, f64 value, tags). */
  final case class PutPoint(
      metric: String, timestampMs: Long, value: Double, tags: Map[String, String])

  /** Parse one `/api/put` body: a single JSON point object or an array of
    * points (reference: convert_put_request, types.rs:97-110), validated
    * like the reference's `validate` (types.rs:190-217): non-empty metric,
    * at least one tag, non-empty tag names. */
  def parsePut(json: String): Seq[PutPoint] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmt: Formats = DefaultFormats
    val root = JsonMethods.parse(json)
    val objs = root match {
      case JArray(xs) => xs
      case o: JObject => List(o)
      case other => throw new IllegalArgumentException(s"bad put body: $other")
    }
    objs.map { p =>
      val metric = (p \ "metric").extract[String]
      val tags = (p \ "tags").extractOpt[Map[String, String]].getOrElse(Map.empty)
      require(metric.nonEmpty, "Metric must not be empty")
      require(tags.nonEmpty, "At least one tag must be supplied")
      require(tags.keys.forall(_.nonEmpty), "Tag name must not be empty")
      PutPoint(metric, toMillis((p \ "timestamp").extract[Long]),
        (p \ "value").extract[Double], tags)
    }
  }

  /** OpenTSDB timestamps are seconds or milliseconds, disambiguated by
    * range — the reference's try_to_millis (time_ext/src/lib.rs:195-204). */
  def toMillis(ts: Long): Long =
    if (ts >= 4294968L && ts <= 4294967295L) ts * 1000
    else if (ts >= 4294967296L && ts <= 9999999999999L) ts
    else throw new IllegalArgumentException(s"Invalid timestamp: $ts")

  /** `/api/put` ingest (reference: proxy/src/opentsdb/mod.rs:50
    * handle_opentsdb_put → convert_put_request → shared auto-create write
    * path): points group per metric into one table write — metric → table,
    * union of tag keys → TAG string columns, the single `value` field
    * (query_frontend DEFAULT_FIELD) → double, timestamp key `timestamp`
    * (common_types/schema.rs:227). Unseen tag keys on an existing table
    * auto-ADD through [[TsdbEngine.appendInferring]], the write path every
    * ingest protocol shares (proxy/src/write.rs:176-260).
    *
    * A body held on the driver (an HTTP put) parses there; a Dataset of
    * bodies parses where it lives and its points are collected. Either
    * way the per-metric shapes, counts and rows are built on the driver
    * and go to the engine's write buffer, with no Spark job. Returns rows
    * written per metric.
    */
  def put(engine: TsdbEngine, bodies: Dataset[String]): Map[String, Long] = {
    val spark = bodies.sparkSession
    import spark.implicits._
    putPoints(engine, bodies.flatMap(parsePut(_)).collect().toSeq)
  }

  /** `/api/put` bodies held on the driver. */
  def put(engine: TsdbEngine, bodies: Seq[String]): Map[String, Long] =
    putPoints(engine, bodies.flatMap(parsePut))

  private def putPoints(engine: TsdbEngine, points: Seq[PutPoint]): Map[String, Long] = {
    engine.limiter.checkInsertRule() // AnyInsert brake (protocol entry)
    points.groupBy(_.metric).toSeq.sortBy(_._1).map { case (m, ps) =>
      val tagKeys = ps.flatMap(_.tags.keys).distinct.sorted
      val wantedCols =
        tagKeys.map(k => ColumnSpec(k, DatumKind.String, isTag = true)) :+
        ColumnSpec("value", DatumKind.Double)
      val rows = ps.map { p =>
        (Seq[Any](p.timestampMs * 1000L) ++ tagKeys.map(p.tags.getOrElse(_, null)) :+
          p.value).toArray
      }
      engine.appendInferring(m, "timestamp", UpdateMode.Overwrite, wantedCols, rows)
      m -> ps.length.toLong
    }.toMap
  }
}
