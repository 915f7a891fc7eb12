package graft.functions

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.io.ByteArrayInputStream

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType}

/** Mergeable t-digest quantile sketch (Dunning & Ertl, "Computing extremely
  * accurate quantiles using t-digests", 2019) — the percentile analogue of
  * the HLL rollup in [[graft.operators.SketchRollup]]: exact percentiles do
  * not roll up (the p95 of daily p95s is not the monthly p95), t-digests
  * do — merging per-bucket digests IS the digest of the union, so one
  * fine-grained rollup answers every coarser window without rescanning raw
  * data. The reference reaches the same family through DataFusion's
  * t-digest-backed approx_percentile_cont; this implementation adds the
  * persistable, mergeable rollup form as native Catalyst aggregates.
  *
  * Determinism: compression uses the k1 (arcsin) scale function with a
  * strictly sequential merge pass over value-sorted centroids — no
  * randomness. The same inputs in the same partition layout produce
  * bit-identical sketches; estimates from any layout stay within the
  * t-digest rank-error envelope (spec-bound, ~0.5% at compression 100).
  */
object TDigestSketch {

  /** Mutable digest: compressed centroids plus an uncompressed point
    * buffer. Weighted means are folded incrementally (numerically stable
    * for the bounded cluster sizes k1 admits). */
  final class Digest(val compression: Double) {
    var means = ArrayBuffer.empty[Double]
    var weights = ArrayBuffer.empty[Long]
    val pending = ArrayBuffer.empty[Double]
    var min = Double.PositiveInfinity
    var max = Double.NegativeInfinity

    private var dirty = false

    def add(x: Double): Unit = {
      pending += x
      dirty = true
      if (x < min) min = x
      if (x > max) max = x
      if (pending.length >= 512) compress()
    }

    def mergeIn(o: Digest): Unit = {
      o.compress()
      var i = 0
      while (i < o.means.length) {
        means += o.means(i); weights += o.weights(i); i += 1
      }
      if (o.min < min) min = o.min
      if (o.max > max) max = o.max
      dirty = true
      compress()
    }

    private def kFn(q: Double): Double =
      compression / (2 * math.Pi) * math.asin(math.max(-1, math.min(1, 2 * q - 1)))

    def compress(): Unit = {
      if (!dirty) return
      dirty = false
      val n = means.length + pending.length
      if (n == 0) return
      val ms = new Array[Double](n)
      val ws = new Array[Long](n)
      var i = 0
      while (i < means.length) { ms(i) = means(i); ws(i) = weights(i); i += 1 }
      var j = 0
      while (j < pending.length) { ms(i) = pending(j); ws(i) = 1L; i += 1; j += 1 }
      val idx = (0 until n).sortBy(ms(_))
      var total = 0L
      idx.foreach(k => total += ws(k))
      val om = ArrayBuffer.empty[Double]
      val ow = ArrayBuffer.empty[Long]
      var cm = ms(idx.head); var cw = ws(idx.head)
      var wSoFar = 0L
      var kLo = kFn(0.0)
      var p = 1
      while (p < n) {
        val k = idx(p)
        val q1 = (wSoFar + cw + ws(k)).toDouble / total
        if (kFn(q1) - kLo <= 1.0) {
          val nw = cw + ws(k)
          cm += (ms(k) - cm) * ws(k) / nw
          cw = nw
        } else {
          om += cm; ow += cw; wSoFar += cw
          kLo = kFn(wSoFar.toDouble / total)
          cm = ms(k); cw = ws(k)
        }
        p += 1
      }
      om += cm; ow += cw
      means = om; weights = ow
      pending.clear()
    }

    /** Standard t-digest quantile interpolation: each centroid's mass is
      * centered at its mean; linear between adjacent centers, anchored at
      * the tracked min/max at the extremes. */
    def quantile(q: Double): Double = {
      compress()
      val n = means.length
      if (n == 0) return Double.NaN
      if (n == 1) return means(0)
      val total = weights.sum.toDouble
      val index = q * total
      // position of centroid i's center in cumulative weight
      var cum = 0.0
      var i = 0
      var prevCenter = 0.0
      var prevMean = min
      while (i < n) {
        val center = cum + weights(i) / 2.0
        if (index < center) {
          val lo = if (i == 0) min else prevMean
          val loC = if (i == 0) 0.0 else prevCenter
          val f = if (center == loC) 0.0 else (index - loC) / (center - loC)
          return lo + math.max(0, math.min(1, f)) * (means(i) - lo)
        }
        cum += weights(i)
        prevCenter = center
        prevMean = means(i)
        i += 1
      }
      // beyond the last center: interpolate toward max
      val f = if (total == prevCenter) 1.0
        else (index - prevCenter) / (total - prevCenter)
      prevMean + math.max(0, math.min(1, f)) * (max - prevMean)
    }

    def serialize(): Array[Byte] = {
      compress()
      val bos = new ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      out.writeDouble(compression)
      out.writeDouble(min)
      out.writeDouble(max)
      out.writeInt(means.length)
      var i = 0
      while (i < means.length) {
        out.writeDouble(means(i)); out.writeLong(weights(i)); i += 1
      }
      out.flush()
      bos.toByteArray
    }
  }

  def deserialize(bytes: Array[Byte]): Digest = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val d = new Digest(in.readDouble())
    d.min = in.readDouble()
    d.max = in.readDouble()
    val n = in.readInt()
    var i = 0
    while (i < n) { d.means += in.readDouble(); d.weights += in.readLong(); i += 1 }
    d
  }
}

/** `tdigest_agg(x [, compression])`: build a t-digest sketch (binary) of a
  * numeric column. Partial aggregation merges map-side like any Spark
  * aggregate — the shuffle carries one small sketch per group. */
case class TDigestAgg(
    child: Expression,
    compression: Double = 100.0,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TDigestSketch.Digest] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def createAggregationBuffer(): TDigestSketch.Digest =
    new TDigestSketch.Digest(compression)

  override def update(
      buf: TDigestSketch.Digest, input: InternalRow): TDigestSketch.Digest = {
    val v = child.eval(input)
    if (v != null) buf.add(v match {
      case d: Double => d
      case f: Float => f.toDouble
      case l: Long => l.toDouble
      case i: Int => i.toDouble
      case s: Short => s.toDouble
      case b: Byte => b.toDouble
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case other => throw new IllegalArgumentException(
        s"tdigest_agg: non-numeric input $other")
    })
    buf
  }

  override def merge(
      buf: TDigestSketch.Digest,
      other: TDigestSketch.Digest): TDigestSketch.Digest = {
    buf.mergeIn(other); buf
  }

  override def eval(buf: TDigestSketch.Digest): Any = buf.serialize()

  override def serialize(buf: TDigestSketch.Digest): Array[Byte] =
    buf.serialize()
  override def deserialize(bytes: Array[Byte]): TDigestSketch.Digest =
    TDigestSketch.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): TDigestAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TDigestAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): TDigestAgg = copy(child = c.head)
  override def prettyName: String = "tdigest_agg"
}

object TDigestAgg {
  def apply(c: Column): Column = apply(c, 100.0)
  def apply(c: Column, compression: Double): Column =
    GraftBridge.col(TDigestAgg(GraftBridge.expr(c), compression)
      .toAggregateExpression())
}

/** `tdigest_merge(sketch)`: union pre-built t-digest sketches — the rollup
  * query side. */
case class TDigestMergeAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TDigestSketch.Digest] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def createAggregationBuffer(): TDigestSketch.Digest =
    new TDigestSketch.Digest(100.0)

  override def update(
      buf: TDigestSketch.Digest, input: InternalRow): TDigestSketch.Digest = {
    val v = child.eval(input)
    if (v != null) buf.mergeIn(TDigestSketch.deserialize(v.asInstanceOf[Array[Byte]]))
    buf
  }

  override def merge(
      buf: TDigestSketch.Digest,
      other: TDigestSketch.Digest): TDigestSketch.Digest = {
    buf.mergeIn(other); buf
  }

  override def eval(buf: TDigestSketch.Digest): Any = buf.serialize()

  override def serialize(buf: TDigestSketch.Digest): Array[Byte] =
    buf.serialize()
  override def deserialize(bytes: Array[Byte]): TDigestSketch.Digest =
    TDigestSketch.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): TDigestMergeAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TDigestMergeAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): TDigestMergeAgg = copy(child = c.head)
  override def prettyName: String = "tdigest_merge"
}

object TDigestMergeAgg {
  def apply(c: Column): Column =
    GraftBridge.col(TDigestMergeAgg(GraftBridge.expr(c))
      .toAggregateExpression())
}

/** `tdigest_quantile(sketch, q)`: estimate a quantile from a sketch.
  * Evaluates on tiny rollup rows — CodegenFallback is fine here. */
case class TDigestQuantile(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override protected def nullSafeEval(sketch: Any, q: Any): Any = {
    val d = TDigestSketch.deserialize(sketch.asInstanceOf[Array[Byte]])
    val quantile = q match {
      case dd: Double => dd
      case dec: org.apache.spark.sql.types.Decimal => dec.toDouble
      case other => other.toString.toDouble
    }
    val r = d.quantile(quantile)
    if (r.isNaN) null else r
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): TDigestQuantile = copy(left = l, right = r)
  override def prettyName: String = "tdigest_quantile"
}

object TDigestQuantile {
  def apply(sketch: Column, q: Double): Column =
    GraftBridge.col(TDigestQuantile(GraftBridge.expr(sketch),
      GraftBridge.expr(org.apache.spark.sql.functions.lit(q))))
}
