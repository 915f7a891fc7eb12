package graft.model

import org.apache.spark.sql.types._

/** The reference's 17-value scalar type system, DatumKind
  * (reference: common_types/src/datum.rs:132-150), mapped onto Spark types
  * per SURVEY.md §1.5. Unsigned integers widen (Spark has no unsigned
  * types); u64 maps to Long with a documented wraparound caveat. Time
  * (time-of-day) maps to Long nanos-of-day.
  */
object DatumKind extends Enumeration {
  val Null, Timestamp, Double, Float, Varbinary, String,
      UInt64, UInt32, UInt16, UInt8, Int64, Int32, Int16, Int8,
      Boolean, Date, Time = Value

  def toSpark(k: Value): DataType = k match {
    case Null      => NullType
    case Timestamp => TimestampType // µs internally; ms values stored losslessly
    case Double    => DoubleType
    case Float     => FloatType
    case Varbinary => BinaryType
    case String    => StringType
    case UInt64    => LongType    // wraps like the reference's u64 arithmetic
    case UInt32    => LongType
    case UInt16    => IntegerType
    case UInt8     => ShortType
    case Int64     => LongType
    case Int32     => IntegerType
    case Int16     => ShortType
    case Int8      => ByteType
    case Boolean   => BooleanType
    case Date      => DateType
    case Time      => LongType    // nanos of day; Spark has no Time type
  }

  /** SQL type name → DatumKind, covering the reference dialect's spellings
    * (query_frontend: lowercased before resolution) plus common aliases. */
  def fromSqlName(name: String, unsigned: Boolean = false): Value =
    (name.toLowerCase, unsigned) match {
      case ("timestamp", _)                   => Timestamp
      case ("double", _)                      => Double
      case ("float", _)                       => Float
      case ("varbinary" | "binary", _)        => Varbinary
      case ("string" | "varchar" | "text", _) => String
      case ("uint64", _) | ("int64" | "bigint", true) => UInt64
      case ("uint32", _) | ("int32" | "int" | "integer", true) => UInt32
      case ("uint16", _) | ("int16" | "smallint", true) => UInt16
      case ("uint8", _) | ("int8" | "tinyint", true) => UInt8
      case ("int64" | "bigint", _)            => Int64
      case ("int32" | "int" | "integer", _)   => Int32
      case ("int16" | "smallint", _)          => Int16
      case ("int8" | "tinyint", _)            => Int8
      case ("boolean" | "bool", _)            => Boolean
      case ("date", _)                        => Date
      case ("time", _)                        => Time
      case (other, _) =>
        throw new IllegalArgumentException(s"unsupported column type '$other'")
    }

  /** Valid tag types mirror the reference's restriction
    * (column_schema.rs:203-210): no Null/Double/Float tags. */
  def validTag(k: Value): scala.Boolean =
    k != Null && k != Double && k != Float

  /** Canonical type names as the reference prints them in DESCRIBE and
    * SHOW CREATE TABLE (common_types/src/datum.rs:231-251 as_str: signed
    * ints use SQL spellings, everything else the lowercase kind name). */
  def sqlName(k: Value): java.lang.String = k match {
    case Int64 => "bigint"
    case Int32 => "int"
    case Int16 => "smallint"
    case Int8  => "tinyint"
    case other => other.toString.toLowerCase
  }
}

/** One column of a TSDB table (reference: common_types/src/column_schema.rs). */
final case class ColumnSpec(
    name: String,
    kind: DatumKind.Value,
    isNullable: Boolean = true,
    isTag: Boolean = false,
    isDictionary: Boolean = false,
    comment: String = "",
    defaultValue: Option[String] = None) {
  def sparkType: DataType = DatumKind.toSpark(kind)
  def toStructField: StructField = {
    val md = new MetadataBuilder()
      .putBoolean("graft.tag", isTag)
      .putBoolean("graft.dictionary", isDictionary)
      .putString("graft.kind", kind.toString)
    if (comment.nonEmpty) md.putString("comment", comment)
    StructField(name, sparkType, isNullable, md.build())
  }
}

/** update_mode table option (reference: analytic_engine/src/table_options.rs:157-178).
  * Overwrite (the default) deduplicates on primary key at read; Append keeps
  * every row. */
object UpdateMode extends Enumeration {
  val Overwrite, Append = Value
  def parse(s: String): Value =
    s.toLowerCase match {
      case "overwrite" => Overwrite
      case "append"    => Append
      case other => throw new IllegalArgumentException(s"bad update_mode '$other'")
    }
}

/** Parsed `WITH (...)` options (reference: table_options.rs:387-409). Unknown
  * keys are preserved round-trip but have no engine semantics here. */
final case class TableOptions(
    updateMode: UpdateMode.Value = UpdateMode.Overwrite,
    enableTtl: Boolean = false,
    ttl: Option[String] = None,              // e.g. "7d"
    segmentDuration: Option[String] = None,  // e.g. "2h"
    raw: Map[String, String] = Map.empty) {

  def ttlMillis: Option[Long] = ttl.map(TableOptions.durationMillis)
  def segmentMillis: Option[Long] = segmentDuration.map(TableOptions.durationMillis)

  /** `write_buffer_size` (bytes, or a size such as `32MB`; default
    * 32 MiB): a table's write buffer (the engine's memtable, filled by
    * line protocol, OpenTSDB put and gRPC Write) is flushed to Parquet
    * once its write-ahead-log bytes reach it, as the reference flushes a
    * full memtable. The engine also flushes earlier, at its own row
    * budgets (`TsdbEngine.BufferRowsPerTable`). */
  def writeBufferSize: Long = raw.collectFirst {
    case (k, v) if k.equalsIgnoreCase("write_buffer_size") => TableOptions.sizeBytes(k, v)
  }.getOrElse(TableOptions.ReferenceDefaults("write_buffer_size").toLong)

  /** These options, after checking every value that has engine meaning
    * and is not already checked by [[TableOptions.fromRaw]]: CREATE and
    * ALTER ... SET call it, so a bad value fails the DDL instead of a
    * later write. */
  def validated: TableOptions = { writeBufferSize; this }

  /** The full option map the reference surfaces in SHOW CREATE TABLE
    * (table_options.rs to_raw_map: every knob, defaults filled in). Keys the
    * engine has no semantics for (arena_block_size, memtable_type, ...) are
    * echoed for display parity only. update_mode is normalized uppercase as
    * the reference prints it (table_options.rs:177-178).
    */
  def canonicalMap: Map[String, String] = {
    val lower = raw.map { case (k, v) => k.toLowerCase -> v }
    TableOptions.ReferenceDefaults ++ lower +
      ("update_mode" -> updateMode.toString.toUpperCase)
  }
}

object TableOptions {
  /** Reference defaults as printed by SHOW CREATE TABLE
    * (analytic_engine/src/table_options.rs:440-475 to_raw_map via the
    * show_create_table.result golden). Display parity only: this engine's
    * TTL purge stays opt-in (enable_ttl + ttl both set, see fromRaw).
    */
  val ReferenceDefaults: Map[String, String] = Map(
    "arena_block_size" -> "2097152",
    "compaction_strategy" -> "default",
    "compression" -> "ZSTD",
    "enable_ttl" -> "true",
    "memtable_type" -> "skiplist",
    "num_rows_per_row_group" -> "8192",
    "segment_duration" -> "",
    "storage_format" -> "AUTO",
    "ttl" -> "7d",
    "update_mode" -> "OVERWRITE",
    "write_buffer_size" -> "33554432")

  /** A positive byte count, bare or with a 1024-based unit (`B`, `KB`,
    * `MB`, `GB`; `KiB`-style spellings too), as the reference reads its
    * size options. */
  def sizeBytes(key: String, v: String): Long = {
    val m = """(?i)(\d+)\s*(b|k|ki?b|m|mi?b|g|gi?b)?""".r
    val n = v.trim match {
      case m(n, u) =>
        val unit = Option(u).map(_.toLowerCase.take(1)) match {
          case None | Some("b") => 1L
          case Some("k") => 1L << 10
          case Some("m") => 1L << 20
          case _ => 1L << 30
        }
        try Math.multiplyExact(n.toLong, unit)
        catch { case _: ArithmeticException | _: NumberFormatException => -1L }
      case _ => -1L
    }
    if (n <= 0) throw new IllegalArgumentException(s"bad $key '$v': expected a positive size")
    n
  }

  /** `7d` / `2h` / `30m` / `10s`-style duration strings. */
  def durationMillis(s: String): Long = {
    val m = """(?i)(\d+)\s*(d|h|m|s|ms)""".r
    s.trim match {
      case m(n, u) => n.toLong * (u.toLowerCase match {
        case "d" => 86400000L; case "h" => 3600000L; case "m" => 60000L
        case "s" => 1000L; case "ms" => 1L
      })
      case other => throw new IllegalArgumentException(s"bad duration '$other'")
    }
  }

  def fromRaw(raw: Map[String, String]): TableOptions = {
    val lower = raw.map { case (k, v) => k.toLowerCase -> v }
    TableOptions(
      updateMode = lower.get("update_mode").map(UpdateMode.parse).getOrElse(UpdateMode.Overwrite),
      enableTtl = lower.get("enable_ttl").forall(_.toLowerCase == "true") && lower.contains("ttl"),
      ttl = lower.get("ttl"),
      segmentDuration = lower.get("segment_duration"),
      raw = raw)
  }
}

/** PARTITION BY clause (reference: query_frontend/src/ast.rs:91-100). */
sealed trait PartitionBy { def partitions: Int }
final case class PartitionByKey(columns: Seq[String], partitions: Int) extends PartitionBy
final case class PartitionByHash(expr: String, partitions: Int) extends PartitionBy
final case class PartitionByRandom(partitions: Int) extends PartitionBy

/** Full table schema (reference: common_types/src/schema.rs:633-655): columns
  * with a mandatory timestamp key, a primary key that is a prefix of the
  * columns, and an auto-generated tsid when no explicit PK is declared
  * (schema.rs:143,226).
  */
final case class TableSchema(
    name: String,
    columns: Seq[ColumnSpec],
    timestampKey: String,
    explicitPrimaryKey: Option[Seq[String]],
    options: TableOptions = TableOptions(),
    partitionBy: Option[PartitionBy] = None,
    version: Int = 1,
    // first-flush cardinality sampling can reorder the PK without touching
    // declared column order (reference schema.rs reset_primary_key_indexes
    // changes indexes only — see engine/Sampler.scala)
    sampledPrimaryKey: Option[Seq[String]] = None) {

  require(columns.exists(_.name == timestampKey),
    s"timestamp key '$timestampKey' is not a declared column of '$name'")

  /** true when the PK is the (tsid, timestamp) pair — implicit, or named
    * explicitly (`PRIMARY KEY(tsid, t)`, reference create_tables.sql t10;
    * schema.rs:143 constrains a tsid PK to exactly that pair). Either way
    * the engine must generate the tsid column. */
  def usesTsid: Boolean =
    explicitPrimaryKey.forall(_.contains(TableSchema.TsidColumn))

  /** Primary key as declared at CREATE time: explicit, or the implicit
    * (tsid, ts). Governs canonical column order (which first-flush PK
    * sampling never rewrites — sampling-primary-key.result keeps the
    * declared order while PRIMARY KEY(...) changes). */
  def declaredPrimaryKey: Seq[String] =
    explicitPrimaryKey.getOrElse(Seq(TableSchema.TsidColumn, timestampKey))

  /** Effective primary key: sampled (post first flush), else declared. */
  def primaryKey: Seq[String] =
    sampledPrimaryKey.getOrElse(declaredPrimaryKey)

  def tagColumns: Seq[ColumnSpec] = columns.filter(_.isTag)

  /** Columns in the reference's canonical order: primary-key columns first
    * (materializing the generated tsid for the implicit PK), then the rest
    * in declared order — the order schema.rs's builder stores and every
    * user surface (SELECT *, DESCRIBE, SHOW CREATE) presents. */
  def canonicalColumns: Seq[ColumnSpec] = {
    val tsid =
      if (usesTsid)
        Seq(ColumnSpec(TableSchema.TsidColumn, DatumKind.UInt64, isNullable = false))
      else Nil
    val byName = (tsid ++ columns).map(c => c.name -> c).toMap
    declaredPrimaryKey.map(byName) ++
      columns.filterNot(c => declaredPrimaryKey.contains(c.name))
  }

  /** On-disk schema: user columns + tsid (when implicit PK) + ingest seq. */
  def storageStruct: StructType = {
    val base = columns.map(_.toStructField)
    val tsid = if (usesTsid)
      Seq(StructField(TableSchema.TsidColumn, LongType, nullable = false)) else Nil
    StructType(base ++ tsid ++ Seq(
      StructField(TableSchema.SeqColumn, LongType, nullable = false),
      StructField(TableSchema.SubSeqColumn, LongType, nullable = false)))
  }

  def column(n: String): ColumnSpec =
    columns.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"no column '$n' in table '$name'"))
}

object TableSchema {
  /** reference: common_types/src/schema.rs:226 */
  val TsidColumn = "tsid"
  /** ingest sequence standing in for the WAL sequence number that orders
    * overwrite-mode duplicates (reference: row_iter/dedup.rs newest-wins).
    * __seq is the per-batch ordinal; __subseq orders within a batch.
    * Kept as TWO columns — a packed `(seq << k) | rowId` single column
    * collides across batches because monotonically_increasing_id carries
    * the partition id in its high bits. */
  val SeqColumn = "__seq"
  val SubSeqColumn = "__subseq"
  /** time-segment directory column (reference: segment_duration SSTs) */
  val SegmentColumn = "__segment"
  /** KEY/HASH partition-bucket directory column (reference: PARTITION BY,
    * hash64 % n at partition/rule/key.rs:367-372) */
  val BucketColumn = "__bucket"
}
