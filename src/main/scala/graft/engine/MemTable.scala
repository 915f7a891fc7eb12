package graft.engine

import graft.functions.TsidHash
import graft.model._
import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, StandardOpenOption}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.{
  Attribute, BoundReference, Expression, GenericInternalRow, Not, Predicate, UnsafeProjection,
  UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{
  CodegenContext, ExprCode, FalseLiteral, GenerateUnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** One buffered write request: its ingest sequence and its rows, stamped
  * with the table's columns (plus `tsid`) as they stood at the write.
  * Values are Catalyst's internal ones (UTF8String, epoch micros, ...);
  * a row's `__subseq` is its index, so later rows of a request win. */
private[graft] final class MemBatch(
    val seq: Long, val fields: IndexedSeq[StructField],
    val rows: IndexedSeq[Array[Any]]) {
  /** Each row as `struct` (a table's storage columns): aligned by name,
    * so a column added after the stamp reads NULL. */
  def aligned(struct: StructType): IndexedSeq[InternalRow] = {
    val src = struct.fields.map(f => fields.indexWhere(_.name == f.name))
    val names = struct.fieldNames
    rows.indices.map { sub =>
      val r = rows(sub)
      val v = new Array[Any](src.length)
      var i = 0
      while (i < src.length) {
        v(i) = names(i) match {
          case TableSchema.SeqColumn => seq
          case TableSchema.SubSeqColumn => sub.toLong
          case _ => if (src(i) < 0) null else r(src(i))
        }
        i += 1
      }
      new GenericInternalRow(v): InternalRow
    }
  }

  @volatile private var projected: (Seq[StructField], IndexedSeq[InternalRow]) = _

  /** [[aligned]] rows through `project`, kept for the last `fields` they
    * were projected to, so a new buffer version projects only its new
    * batch. */
  def projectedTo(struct: StructType, fields: Seq[StructField],
      project: => InternalRow => InternalRow): IndexedSeq[InternalRow] = {
    val c = projected
    if (c != null && c._1 == fields) c._2
    else {
      val out = aligned(struct).map(project)
      projected = (fields, out)
      out
    }
  }
}

private[graft] object MemBatch {
  /** The driver-side write stamp: `rows` hold the timestamp in epoch
    * micros followed by one value per `names` column (Scala values, NULL
    * for absent); each value is converted to its table column's type, a
    * column the request lacks is NULL, and `tsid` is hashed from the tag
    * columns by [[TsidHash.hash]], the same function the write
    * expression calls. `zone` is the session time zone, in which a
    * zoneless timestamp string is read. */
  def stamp(s: TableSchema, seq: Long, names: Seq[String],
      rows: Seq[Array[Any]], zone: java.time.ZoneId): MemBatch = {
    val cols = s.columns.toIndexedSeq
    val src = cols.map { c =>
      if (c.name == s.timestampKey) 0
      else { val j = names.indexOf(c.name); if (j < 0) -1 else j + 1 }
    }
    val tagPos = cols.indices.filter(cols(_).isTag)
    val tagTypes = tagPos.map(cols(_).sparkType)
    val fields = cols.map(c => StructField(c.name, c.sparkType)) ++
      (if (s.usesTsid) Seq(StructField(TableSchema.TsidColumn, LongType)) else Nil)
    val stamped = rows.map { r =>
      val v = new Array[Any](fields.length)
      var i = 0
      while (i < cols.length) {
        val j = src(i)
        v(i) = if (j < 0) null else if (j == 0) r(0) else toInternal(r(j), cols(i), zone)
        i += 1
      }
      if (s.usesTsid)
        v(i) = if (tagPos.isEmpty) 0L else TsidHash.hash(tagPos, tagTypes, k => v(tagPos(k)))
      v
    }
    new MemBatch(seq, fields, stamped.toIndexedSeq)
  }

  /** A protocol value (String, Double, Long, Int, Boolean, bytes) as the
    * Catalyst value of column `c`, with the conversions Spark's ANSI cast
    * allows (a string reaches a timestamp or date column through Spark's
    * own parsers); anything else fails the write. */
  def toInternal(v: Any, c: ColumnSpec, zone: java.time.ZoneId): Any = {
    def bad: Nothing = throw new IllegalArgumentException(
      s"cannot write ${v.getClass.getSimpleName} value '$v' into column '${c.name}' (${c.kind})")
    def long(lo: Long, hi: Long): Long = {
      val x = v match {
        case n: java.lang.Double =>
          val d = n.doubleValue
          if (d.isNaN || d < Long.MinValue.toDouble || d >= Long.MaxValue.toDouble) bad
          d.toLong
        case n: java.lang.Number => n.longValue
        case s: String => try s.trim.toLong catch { case _: NumberFormatException => bad }
        case _ => bad
      }
      if (x < lo || x > hi) bad
      x
    }
    def double: Double = v match {
      case n: java.lang.Number => n.doubleValue
      case s: String => try s.trim.toDouble catch { case _: NumberFormatException => bad }
      case _ => bad
    }
    if (v == null) null
    else c.kind match {
      case DatumKind.String => UTF8String.fromString(v match {
        case b: Array[Byte] => new String(b, java.nio.charset.StandardCharsets.UTF_8)
        case other => other.toString
      })
      case DatumKind.Double => double
      case DatumKind.Float => double.toFloat
      case DatumKind.UInt64 | DatumKind.Int64 | DatumKind.UInt32 | DatumKind.Time =>
        long(Long.MinValue, Long.MaxValue)
      case DatumKind.Int32 | DatumKind.UInt16 => long(Int.MinValue, Int.MaxValue).toInt
      case DatumKind.Int16 | DatumKind.UInt8 => long(Short.MinValue, Short.MaxValue).toShort
      case DatumKind.Int8 => long(Byte.MinValue, Byte.MaxValue).toByte
      case DatumKind.Boolean => v match {
        case b: java.lang.Boolean => b.booleanValue
        case n: java.lang.Number => n.doubleValue != 0
        case s: String => s.trim.toLowerCase match {
          case "t" | "true" | "y" | "yes" | "1" => true
          case "f" | "false" | "n" | "no" | "0" => false
          case _ => bad
        }
        case _ => bad
      }
      case DatumKind.Varbinary => v match {
        case b: Array[Byte] => b
        case s: String => s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        case _ => bad
      }
      case DatumKind.Timestamp => v match {
        case s: String =>
          DateTimeUtils.stringToTimestamp(UTF8String.fromString(s), zone).getOrElse(bad)
        case _ => bad
      }
      case DatumKind.Date => v match {
        case s: String => DateTimeUtils.stringToDate(UTF8String.fromString(s)).getOrElse(bad)
        case _ => bad
      }
      case _ => bad
    }
  }
}

/** A table's write buffer, one immutable version per write: the
  * memtable of the reference's write path (instance/write.rs:345-380).
  * The engine swaps versions under the table lock; readers take one
  * version and never see it change. */
private[engine] final class MemTable(
    val batches: Vector[MemBatch], val bytes: Long, val rows: Long) {
  def isEmpty: Boolean = batches.isEmpty
  def seqs: Seq[Long] = batches.map(_.seq)
  def add(b: MemBatch, size: Long): MemTable =
    new MemTable(batches :+ b, bytes + size, rows + b.rows.length)

  @volatile private var cached: (Seq[StructField], LogicalRDD) = _
  @volatile private var newest: (Seq[StructField], Seq[String], LogicalRDD, BufferKeys) = _

  /** The buffer as a one-partition scan with the columns `fields`, built
    * once per version and field list. `projection` maps a row over
    * `struct` (a table's storage columns, whose attributes it is given)
    * to one over `fields`. The scan is not a `LocalRelation`: Spark would
    * fold every query's projections and filters into one by evaluating
    * them over each buffered row on the driver, per query (SCALING.md
    * §8.33); here the one task evaluates them. Every buffered version of
    * a key is in it: compaction, flush and the dedup window read this. */
  def relation(spark: SparkSession, struct: StructType, fields: Seq[StructField])(
      projection: Seq[Attribute] => InternalRow => InternalRow): LogicalRDD = {
    val c = cached
    if (c != null && c._1 == fields) c._2
    else {
      val rel = GraftBridge.rowScan(spark, nullableAttributes(fields),
        rowsAs(struct, fields, projection))
      cached = (fields, rel)
      rel
    }
  }

  /** Like [[relation]], but only each primary key's newest row (the
    * newest `(__seq, __subseq)`, the row the dedup window keeps), plus the
    * set of those keys as [[BufferKeys]]. Built on the first such read of
    * a version, never by a write. Batches are held in sequence order and
    * a batch's rows in `__subseq` order, so a key's last row is its
    * newest. */
  def newestRows(spark: SparkSession, struct: StructType, fields: Seq[StructField],
      pk: Seq[String])(
      projection: Seq[Attribute] => InternalRow => InternalRow): (LogicalRDD, BufferKeys) = {
    val c = newest
    if (c != null && c._1 == fields && c._2 == pk) (c._3, c._4)
    else {
      val rows = rowsAs(struct, fields, projection)
      val keyOf = UnsafeProjection.create(BufferKeys.normalized(pk.map { n =>
        val i = fields.indexWhere(_.name == n)
        BoundReference(i, fields(i).dataType, nullable = true)
      }))
      val last = new java.util.HashMap[UnsafeRow, Integer]()
      rows.indices.foreach(i => last.put(keyOf(rows(i)).copy(), i))
      val keep = last.values.asScala.map(_.intValue).toArray.sorted
      val rel = GraftBridge.rowScan(spark, nullableAttributes(fields), keep.map(rows).toSeq)
      val keys = new BufferKeys(
        spark.sparkContext.broadcast(new java.util.HashSet[UnsafeRow](last.keySet)))
      newest = (fields, pk, rel, keys)
      (rel, keys)
    }
  }

  private def rowsAs(struct: StructType, fields: Seq[StructField],
      projection: Seq[Attribute] => InternalRow => InternalRow): IndexedSeq[InternalRow] = {
    lazy val project = projection(nullableAttributes(struct.fields.toSeq))
    batches.flatMap(_.projectedTo(struct, fields, project))
  }

  /** True when the buffer holds exactly the sequences `[from, until)`:
    * every batch reserved in that range, and none outside it. */
  def holdsExactly(from: Long, until: Long): Boolean =
    batches.length == until - from && batches.forall(b => b.seq >= from && b.seq < until)

  private def nullableAttributes(fields: Seq[StructField]): Seq[Attribute] =
    DataTypeUtils.toAttributes(StructType(fields.map(_.copy(nullable = true))))

  /** Distinct values of column `name` over every buffered row (NULL
    * counts as one): the tag bloom-filter size of a flush. */
  def distinctCount(name: String): Long =
    batches.iterator.flatMap { b =>
      val i = b.fields.indexWhere(_.name == name)
      b.rows.iterator.map(r => if (i < 0) null else r(i))
    }.toSet.size.toLong
}

private[engine] object MemTable {
  val Empty = new MemTable(Vector.empty, 0L, 0L)
}

/** A buffer version's primary keys (as the UnsafeRows of
  * [[BufferKeys.normalized]] key columns), shipped to tasks once as a
  * broadcast. Equal by identity of the version's build, so a plan that
  * tests against it does not grow or re-canonicalize with the keys. */
final class BufferKeys(keys: Broadcast[java.util.HashSet[UnsafeRow]]) extends Serializable {
  private val id = BufferKeys.ids.incrementAndGet()

  def contains(key: UnsafeRow): Boolean = keys.value.contains(key)

  /** `pk` (a row's primary-key columns, in the key order) is not among
    * the keys. */
  def excludes(pk: Seq[Expression]): Expression = Not(BufferedKey(BufferKeys.normalized(pk), this))

  override def equals(o: Any): Boolean = o match {
    case k: BufferKeys => k.id == id
    case _ => false
  }
  override def hashCode: Int = java.lang.Long.hashCode(id)
  override def toString: String = s"buffer#$id"
}

private[engine] object BufferKeys {
  private val ids = new java.util.concurrent.atomic.AtomicLong()

  /** Key columns as the dedup window partitions them: a float or double
    * value's -0.0 and NaNs are normalized; NULLs compare equal. */
  def normalized(pk: Seq[Expression]): Seq[Expression] = pk.map(e => e.dataType match {
    case FloatType | DoubleType => NormalizeNaNAndZero(e)
    case _ => e
  })
}

/** True when a row's key (`children`, the normalized key columns) is in
  * `keys`: the key is written as an `UnsafeRow` and looked up in the
  * broadcast set. */
private[engine] case class BufferedKey(children: Seq[Expression], keys: BufferKeys)
    extends Predicate {
  override def nullable: Boolean = false

  @transient private lazy val keyOf = UnsafeProjection.create(children)

  override def eval(input: InternalRow): Any = keys.contains(keyOf(input))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val set = ctx.addReferenceObj("bufferKeys", keys)
    val key = GenerateUnsafeProjection.createCode(ctx, children)
    ev.copy(code = code"""
      ${key.code}
      boolean ${ev.value} = $set.contains(${key.value});""", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

/** A table's write-ahead log under `<table>/_wal/`: one length-prefixed,
  * CRC-32-checked record per buffered write, fsynced before the write is
  * acknowledged. A log file is named after its first record's sequence;
  * a flush or compaction that stores the whole buffer deletes them all,
  * once the manifest records the stored sequence. Not thread-safe: the
  * engine calls it under the table lock. */
private[engine] final class Wal(dir: Path) {
  private var ch: FileChannel = _

  def append(seq: Long, payload: Array[Byte]): Unit = {
    if (ch == null) {
      Files.createDirectories(dir)
      ch = FileChannel.open(dir.resolve(f"$seq%020d.log"), StandardOpenOption.CREATE,
        StandardOpenOption.WRITE, StandardOpenOption.APPEND)
      graft.catalog.GraftCatalog.sync(dir) // the new file's directory entry is durable too
    }
    val crc = new java.util.zip.CRC32()
    crc.update(payload)
    val buf = ByteBuffer.allocate(8 + payload.length)
    buf.putInt(payload.length).putInt(crc.getValue.toInt).put(payload).flip()
    val start = ch.size()
    try {
      while (buf.hasRemaining) ch.write(buf)
      ch.force(false)
    } catch {
      // a half-written record must not sit in front of later ones
      case e: Throwable => ch.truncate(start); throw e
    }
  }

  /** Delete every log file: all their records are stored in Parquet. */
  def clear(): Unit = {
    close()
    Wal.files(dir).foreach(Files.deleteIfExists)
  }

  def close(): Unit = if (ch != null) { ch.close(); ch = null }
}

private[engine] object Wal {
  def files(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".log"))
        .toSeq.sortBy(_.getFileName.toString)
      finally s.close()
    }

  /** Every record payload under `dir`, in write order. A record cut off
    * at the end of the last file is a write that was never acknowledged:
    * it is dropped and the file truncated before it. Any other record
    * that fails its length or CRC check is corruption and fails loudly. */
  def replay(dir: Path): Seq[Array[Byte]] = {
    val fs = files(dir)
    fs.zipWithIndex.flatMap { case (f, k) =>
      val bytes = Files.readAllBytes(f)
      val bb = ByteBuffer.wrap(bytes)
      val out = Vector.newBuilder[Array[Byte]]
      var pos = 0
      while (pos < bytes.length) {
        val rest = bytes.length - pos
        val len = if (rest >= 8) bb.getInt(pos) else -1
        val complete = rest >= 8 && len >= 0 && len <= rest - 8
        val ok = complete && {
          val crc = new java.util.zip.CRC32()
          crc.update(bytes, pos + 8, len)
          crc.getValue.toInt == bb.getInt(pos + 4)
        }
        if (ok) {
          out += java.util.Arrays.copyOfRange(bytes, pos + 8, pos + 8 + len)
          pos += 8 + len
        } else {
          val torn = k == fs.length - 1 &&
            (rest < 8 || len > rest - 8 || (len == rest - 8 && len >= 0))
          if (!torn) throw new IllegalStateException(
            s"corrupt WAL record at byte $pos of $f (not the last record)")
          val ch = FileChannel.open(f, StandardOpenOption.WRITE)
          try { ch.truncate(pos.toLong); ch.force(true) } finally ch.close()
          pos = bytes.length
        }
      }
      out.result()
    }
  }

  private val Types: IndexedSeq[DataType] = IndexedSeq(StringType, LongType,
    TimestampType, IntegerType, DateType, ShortType, ByteType, DoubleType,
    FloatType, BooleanType, BinaryType)

  def encode(b: MemBatch): Array[Byte] = {
    val bos = new ByteArrayOutputStream(64 + b.rows.length * b.fields.length * 12)
    val out = new DataOutputStream(bos)
    out.writeLong(b.seq)
    out.writeInt(b.fields.length)
    b.fields.foreach { f =>
      out.writeUTF(f.name)
      val t = Types.indexOf(f.dataType)
      require(t >= 0, s"no WAL encoding for ${f.dataType}")
      out.writeByte(t)
    }
    out.writeInt(b.rows.length)
    val types = b.fields.map(_.dataType)
    b.rows.foreach { r =>
      var i = 0
      while (i < r.length) {
        val v = r(i)
        if (v == null) out.writeByte(0)
        else {
          out.writeByte(1)
          types(i) match {
            case StringType => bytes(out, v.asInstanceOf[UTF8String].getBytes)
            case BinaryType => bytes(out, v.asInstanceOf[Array[Byte]])
            case LongType | TimestampType => out.writeLong(v.asInstanceOf[Long])
            case IntegerType | DateType => out.writeInt(v.asInstanceOf[Int])
            case ShortType => out.writeShort(v.asInstanceOf[Short])
            case ByteType => out.writeByte(v.asInstanceOf[Byte])
            case DoubleType => out.writeDouble(v.asInstanceOf[Double])
            case FloatType => out.writeFloat(v.asInstanceOf[Float])
            case BooleanType => out.writeBoolean(v.asInstanceOf[Boolean])
            case other => throw new IllegalStateException(s"no WAL encoding for $other")
          }
        }
        i += 1
      }
    }
    out.flush()
    bos.toByteArray
  }

  private def bytes(out: DataOutputStream, b: Array[Byte]): Unit = {
    out.writeInt(b.length); out.write(b)
  }

  def decode(payload: Array[Byte]): MemBatch = {
    val in = new DataInputStream(new ByteArrayInputStream(payload))
    def bytes(): Array[Byte] = { val a = new Array[Byte](in.readInt()); in.readFully(a); a }
    val seq = in.readLong()
    val fields = IndexedSeq.fill(in.readInt())(StructField(in.readUTF(), Types(in.readByte())))
    val types = fields.map(_.dataType)
    val rows = IndexedSeq.fill(in.readInt()) {
      types.map { t =>
        if (in.readByte() == 0) null
        else t match {
          case StringType => UTF8String.fromBytes(bytes())
          case BinaryType => bytes()
          case LongType | TimestampType => in.readLong()
          case IntegerType | DateType => in.readInt()
          case ShortType => in.readShort()
          case ByteType => in.readByte()
          case DoubleType => in.readDouble()
          case FloatType => in.readFloat()
          case BooleanType => in.readBoolean()
          case other => throw new IllegalStateException(s"no WAL encoding for $other")
        }
      }.toArray[Any]
    }
    new MemBatch(seq, fields, rows)
  }
}
