package graft.influx

import graft.engine.TsdbEngine
import graft.model.{ColumnSpec, DatumKind, UpdateMode}
import org.apache.spark.sql.Dataset

/** InfluxDB line protocol ingest (reference: proxy/src/influxdb/types.rs:
  * 491-540 groups lines per measurement+tagset into WriteTableRequests; the
  * write path auto-creates tables and infers column types from the first
  * write — proxy/src/write.rs:75,176-260).
  *
  * `measurement[,tag=v]* field=value[,field=value]* [timestamp-ns]`
  *
  * A write body is already on the driver, so it parses there, like the
  * reference's request-thread parse: shapes, type widening, line counts
  * and the typed rows are plain Scala, and each measurement's rows go to
  * the engine's write buffer, so a write runs no Spark job. Field types:
  * float (default), integer (`i` suffix), string (quoted), boolean. Tags
  * are strings (TAG columns). Timestamps are nanoseconds.
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

  private def isData(line: String): Boolean = {
    val t = line.trim
    t.nonEmpty && !t.startsWith("#")
  }

  /** Ingest a Dataset of lines (a streaming or registry source): parsed
    * where the lines live, collected, then ingested like a write body. */
  def ingest(engine: TsdbEngine, lines: Dataset[String]): Map[String, Long] = {
    val spark = lines.sparkSession
    import spark.implicits._
    ingestParsed(engine, lines.filter(isData _).map(parseLine).collect().toSeq)
  }

  /** Ingest lines held on the driver (an HTTP write body). */
  def ingest(engine: TsdbEngine, lines: Seq[String]): Map[String, Long] =
    ingestParsed(engine, lines.filter(isData).map(parseLine))

  /** Group parsed lines per measurement, auto-create tables (timestamp key
    * `time`, tags TAG string, fields typed from first sight) and write
    * each group's rows through the engine's shared write path (tsid + seq
    * + write buffer). Returns rows written per measurement. */
  private def ingestParsed(
      engine: TsdbEngine, parsed: Seq[ParsedLine]): Map[String, Long] = {
    engine.limiter.checkInsertRule() // AnyInsert brake (protocol entry)
    // deterministic type merge for conflicting lines: widen by fixed
    // precedence (string > double > int64 > boolean)
    val precedence = Map("boolean" -> 0, "int64" -> 1, "double" -> 2, "string" -> 3)
    def kindOf(t: String): DatumKind.Value = t match {
      case "int64"   => DatumKind.Int64
      case "string"  => DatumKind.String
      case "boolean" => DatumKind.Boolean
      case _         => DatumKind.Double
    }

    parsed.groupBy(_.measurement).toSeq.sortBy(_._1).map { case (m, ps) =>
      val tagKeys = ps.flatMap(_.tags.map(_._1)).distinct.sorted
      val fieldTypes: Map[String, String] = ps.flatMap(_.fields)
        .groupMapReduce(_._1)(_._2)((a, b) => if (precedence(a) >= precedence(b)) a else b)
      val fieldNames = fieldTypes.keys.toSeq.sorted
      // influx writers vary field sets per point: unseen tags/fields
      // auto-ADD through the engine's shared schema-inferring append
      val wantedCols =
        tagKeys.map(k => ColumnSpec(k, DatumKind.String, isTag = true)) ++
        fieldNames.map(f => ColumnSpec(f, kindOf(fieldTypes(f))))
      // each value as its measurement-wide type (a narrower line's value
      // widens: 1i in a double field is 1.0, anything in a string field
      // keeps its text)
      def typed(t: String, raw: String): Any = t match {
        case "int64"   => raw.toLong
        case "string"  => raw
        case "boolean" => raw == "t"
        case _         => raw.toDouble
      }
      val rows = ps.map { p =>
        val tagMap = p.tags.toMap
        val fMap = p.fields.map(f => f._1 -> f._3).toMap
        (Seq[Any](p.tsNanos / 1000L) ++ tagKeys.map(tagMap.getOrElse(_, null)) ++
          fieldNames.map(f => fMap.get(f).map(typed(fieldTypes(f), _)).orNull)).toArray
      }
      engine.appendInferring(m, "time", UpdateMode.Overwrite, wantedCols, rows)
      m -> ps.length.toLong
    }.toMap
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
