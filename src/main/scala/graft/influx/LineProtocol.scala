package graft.influx

import graft.engine.TsdbEngine
import graft.model.{ColumnSpec, DatumKind, UpdateMode}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** InfluxDB line protocol ingest (reference: proxy/src/influxdb/types.rs:
  * 491-540 groups lines per measurement+tagset into WriteTableRequests; the
  * write path auto-creates tables and infers column types from the first
  * write — proxy/src/write.rs:75,176-260).
  *
  * `measurement[,tag=v]* field=value[,field=value]* [timestamp-ns]`
  *
  * Parsing runs distributed (a map over the line Dataset); only the schema
  * union (measurement names + field types, a few rows) reaches the driver —
  * ingest scales with executors, auto-create stays a metadata operation.
  * Field types: float (default), integer (`i` suffix), string (quoted),
  * boolean. Tags are strings (TAG columns). Timestamps are nanoseconds.
  */
object LineProtocol {

  final case class ParsedLine(
      measurement: String,
      tags: Seq[(String, String)],
      fields: Seq[(String, String, String)], // (name, type, value-as-string)
      tsNanos: Long)

  /** Parse one line; throws on malformed input (callers may filter). */
  def parseLine(line: String): ParsedLine = {
    // split on unescaped spaces into measurement+tags / fields / timestamp
    val parts = splitUnescaped(line.trim, ' ')
    require(parts.length >= 2, s"malformed line: $line")
    val head = splitUnescaped(parts.head, ',')
    val measurement = unescape(head.head)
    val tags = head.tail.map { kv =>
      val i = indexOfUnescaped(kv, '=')
      (unescape(kv.take(i)), unescape(kv.drop(i + 1)))
    }
    val fields = splitUnescaped(parts(1), ',').map { kv =>
      val i = indexOfUnescaped(kv, '=')
      val name = unescape(kv.take(i))
      val raw = kv.drop(i + 1)
      if (raw.startsWith("\"")) (name, "string", raw.stripPrefix("\"").stripSuffix("\"")
        .replace("\\\"", "\"").replace("\\\\", "\\"))
      else if (raw.endsWith("i")) (name, "int64", raw.dropRight(1))
      // line protocol accepts t/T/true/True/TRUE and f/F/false/False/FALSE
      else if (Set("true", "false", "t", "f").contains(raw.toLowerCase))
        (name, "boolean", raw.toLowerCase.take(1))
      else (name, "double", raw)
    }
    require(parts.length >= 3, s"line missing timestamp (required here): $line")
    ParsedLine(measurement, tags, fields, parts(2).toLong)
  }

  /** Ingest a Dataset of lines: group per measurement, auto-create tables
    * (timestamp key `time`, tags TAG string, fields typed from first
    * sight), append through the engine write path (tsid + seq + segments).
    * Returns rows appended per measurement. */
  def ingest(engine: TsdbEngine, lines: Dataset[String]): Map[String, Long] = {
    engine.limiter.checkInsertRule() // AnyInsert brake (protocol entry)
    val spark = lines.sparkSession
    import spark.implicits._
    val parsed: Dataset[ParsedLine] = lines
      .filter((l: String) => l.trim.nonEmpty && !l.trim.startsWith("#"))
      .map(parseLine)
      .cache()
    try ingestParsed(engine, parsed)
    finally parsed.unpersist() // appends are eager; don't pin executor storage
  }

  private def ingestParsed(
      engine: TsdbEngine, parsed: Dataset[ParsedLine]): Map[String, Long] = {
    val spark = parsed.sparkSession
    import spark.implicits._
    // ONE aggregation pass over the cached parse computes both the
    // per-measurement row counts and the schema shapes: each line's first
    // field carries a line marker, so line counts fall out of the same
    // groupBy that dedups (measurement, field, type, tagset) shapes —
    // counting the write batch itself would compute each batch twice
    val meta = parsed.flatMap { p =>
        val tagKeys = p.tags.map(_._1)
        p.fields.zipWithIndex.map { case (f, i) =>
          (p.measurement, f._1, f._2, tagKeys, if (i == 0) 1L else 0L) }
      }.toDF("m", "field", "ftype", "tagKeys", "lineMark")
      .groupBy("m", "field", "ftype", "tagKeys")
      .agg(sum("lineMark").as("lines"))
      .collect()
    val counts: Map[String, Long] = meta.groupBy(_.getString(0))
      .map { case (m, rs) => m -> rs.map(_.getLong(4)).sum }
    val shapes = meta.map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getSeq[String](3))).groupBy(_._1)

    shapes.map { case (m, rows) =>
      val tagKeys = rows.flatMap(_._4).distinct.sorted.toSeq
      // deterministic type merge for conflicting lines: widen by fixed
      // precedence (string > double > int64 > boolean) — a collect-order
      // toMap would pick a shuffle-dependent winner
      val precedence = Map("boolean" -> 0, "int64" -> 1, "double" -> 2, "string" -> 3)
      val fieldTypes: Map[String, String] = rows.groupBy(_._2)
        .map { case (f, rs) => f -> rs.map(_._3).maxBy(precedence) }
      val fieldNames = fieldTypes.keys.toSeq.sorted
      def kindOf(t: String): DatumKind.Value = t match {
        case "int64"   => DatumKind.Int64
        case "string"  => DatumKind.String
        case "boolean" => DatumKind.Boolean
        case _         => DatumKind.Double
      }
      // influx writers vary field sets per point: unseen tags/fields
      // auto-ADD through the engine's shared schema-inferring append
      val wantedCols =
        tagKeys.map(k => ColumnSpec(k, DatumKind.String, isTag = true)) ++
        fieldNames.map(f => ColumnSpec(f, kindOf(fieldTypes(f))))
      val rowsDf = parsed.filter(_.measurement == m).map { p =>
        val tagMap = p.tags.toMap
        val fMap = p.fields.map(f => f._1 -> f._3).toMap
        (p.tsNanos, tagKeys.map(tagMap.get), fieldNames.map(fMap.get))
      }.toDF("_ns", "_tags", "_fields")
      val batch = rowsDf.select(
        expr("timestamp_micros(_ns div 1000)").as("time") +:
        (tagKeys.zipWithIndex.map { case (k, i) => col("_tags")(i).as(k) } ++
        fieldNames.zipWithIndex.map { case (f, i) =>
          val c = col("_fields")(i)
          (fieldTypes(f) match {
            case "int64"   => c.cast(LongType)
            case "string"  => c
            case "boolean" => c === "t"
            case _         => c.cast(DoubleType)
          }).as(f)
        }): _*)
      engine.appendInferring(m, "time", UpdateMode.Overwrite, wantedCols, batch)
      m -> counts(m)
    }
  }

  // ---- escaping helpers (`\,` `\ ` `\=` are literal in identifiers)

  private def splitUnescaped(s: String, sep: Char): Array[String] = {
    val out = Array.newBuilder[String]
    val cur = new StringBuilder
    var i = 0
    var inQuotes = false
    while (i < s.length) {
      val c = s(i)
      if (c == '"' && (i == 0 || s(i - 1) != '\\')) { inQuotes = !inQuotes; cur += c }
      else if (c == '\\' && i + 1 < s.length && !inQuotes) { cur += c; cur += s(i + 1); i += 1 }
      else if (c == sep && !inQuotes) {
        if (cur.nonEmpty) { out += cur.toString; cur.clear() }
      } else cur += c
      i += 1
    }
    if (cur.nonEmpty) out += cur.toString
    out.result()
  }

  private def indexOfUnescaped(s: String, c: Char): Int = {
    var i = 0
    while (i < s.length) {
      if (s(i) == c && (i == 0 || s(i - 1) != '\\')) return i
      i += 1
    }
    -1
  }

  private def unescape(s: String): String =
    s.replace("\\,", ",").replace("\\ ", " ").replace("\\=", "=")
}
