package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Series-identity hash: the reference derives a `tsid` for each distinct
  * tag-value combination via murmur3_x64_128 (seed 0) truncated to its low
  * 64 bits over an encoding of the non-null (tag column id, tag value) pairs
  * (reference: interpreters/src/insert.rs:142-215 `TsidBuilder`;
  * components/hash_ext/src/lib.rs:40-45).
  *
  * We reproduce the *semantics* — a stable 64-bit id per tag combination,
  * null tags skipped, column identity bound into the hash — with our own
  * byte encoding (column id LE + length-prefixed value bytes). The exact
  * reference bit pattern (MemCompact encoding) is NOT reproduced; tsid is an
  * internal key and never surfaces in query results.
  *
  * Write-path only (runs once per ingested row), so interpreted eval is fine.
  */
case class TsidHash(children: Seq[Expression], columnIds: Seq[Int])
    extends Expression with CodegenFallback {
  require(children.length == columnIds.length)

  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  @transient private lazy val childTypes = children.map(_.dataType)

  override def eval(input: InternalRow): Any =
    TsidHash.hash(columnIds, childTypes, i => children(i).eval(input))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

object TsidHash {
  /** The tsid byte encoding and hash, stated once: the expression above
    * and the engine's driver-side write stamp both call it. `value(i)` is
    * tag `i`'s Catalyst value (UTF8String, Long, ...; null when absent)
    * and `dataTypes(i)` its type; each non-null tag contributes its
    * column id (LE int32), its byte length (LE int32) and its bytes. */
  def hash(columnIds: Seq[Int], dataTypes: Seq[DataType], value: Int => Any): Long = {
    val buf = new java.io.ByteArrayOutputStream(64)
    var i = 0
    while (i < columnIds.length) {
      val v = value(i)
      if (v != null) {
        writeIntLE(buf, columnIds(i))
        val bytes = dataTypes(i) match {
          case StringType => v.asInstanceOf[UTF8String].getBytes
          case BinaryType => v.asInstanceOf[Array[Byte]]
          case LongType | TimestampType => longBytes(v.asInstanceOf[Long])
          case IntegerType | DateType => longBytes(v.asInstanceOf[Int].toLong)
          case ShortType => longBytes(v.asInstanceOf[Short].toLong)
          case ByteType => longBytes(v.asInstanceOf[Byte].toLong)
          case BooleanType => Array[Byte](if (v.asInstanceOf[Boolean]) 1 else 0)
          case other => throw new IllegalStateException(s"tsid over $other tag")
        }
        writeIntLE(buf, bytes.length)
        buf.write(bytes, 0, bytes.length)
      }
      i += 1
    }
    // murmur3_x64_128 seed 0, low 64 bits (Guava ships with Spark)
    com.google.common.hash.Hashing.murmur3_128(0).hashBytes(buf.toByteArray).asLong()
  }

  private def writeIntLE(buf: java.io.ByteArrayOutputStream, v: Int): Unit = {
    buf.write(v & 0xff); buf.write((v >> 8) & 0xff)
    buf.write((v >> 16) & 0xff); buf.write((v >> 24) & 0xff)
  }
  private def longBytes(v: Long): Array[Byte] = {
    val a = new Array[Byte](8)
    var i = 0; while (i < 8) { a(i) = ((v >> (8 * i)) & 0xff).toByte; i += 1 }
    a
  }

  /** tsid column from tag columns (with their schema positions as ids). */
  def tsid(tags: Seq[(Column, Int)]): Column =
    GraftBridge.col(TsidHash(tags.map(t => GraftBridge.expr(t._1)), tags.map(_._2)))
}
