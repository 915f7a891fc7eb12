package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Product quantization ANN (Jégou, Douze, Schmid 2011, "Product
  * Quantization for Nearest Neighbor Search") — the compression-side scale
  * path next to LSH ([[Similarity.lshTopK]]) and IVF ([[Ivf]]): each
  * normalized vector is split into `m` subvectors, each subvector replaced
  * by the id of its nearest codeword from a per-subspace k-means codebook
  * (`ksub` codewords). A D-dim float vector becomes `m` small ints — 64
  * floats (256 B) at m=8 compress to 8 codes, so a 100 TB embedding corpus
  * scans as a few TB of codes. Queries score candidates with asymmetric
  * distance computation (ADC): one m×ksub lookup table of exact
  * query-to-codeword dot products, then each row costs m table lookups —
  * no float math per row.
  *
  * 100 TB posture: training mirrors [[Ivf.train]] — each iteration is ONE
  * distributed pass over all m subspaces at once (assignment rides the
  * flat codebook matrix in the expression; re-estimation is a keyed
  * shuffle of m·ksub·dsub partial sums, not vectors); only the codebook
  * (m·ksub·dsub doubles) reaches the driver. Encoding is map-only; the
  * codes table is the persisted index. Scoring is map-only +
  * TakeOrderedAndProject; the rerank variant over-fetches candidate ids by
  * ADC and exact-reranks only that short list against the float vectors.
  */
object Pq {

  /** Train per-subspace k-means codebooks on L2-normalized vectors.
    * Returns the flat codebook matrix: row `mi * ksub + j` is codeword `j`
    * of subspace `mi` (dsub doubles each). Deterministic: seeded
    * hash-ordered init, fixed iteration count, min-L2 assignment with
    * lowest-id tie-break.
    *
    * Trains on a deterministic hash-sample capped at `maxTrain` vectors —
    * the standard PQ deployment (FAISS trains codebooks on a bounded
    * sample however large the corpus): codebook quality saturates long
    * before the corpus is exhausted, and it keeps the per-iteration
    * shuffle O(maxTrain·dim) instead of O(corpus·dim) at 100 TB. */
  def train(
      embDf: DataFrame, idCol: String, embCol: String,
      m: Int, ksub: Int, iters: Int = 2, seed: Long = 42L,
      maxTrain: Int = 20000): Array[Array[Double]] = {
    // ONE distributed job: the hash-ordered bounded sample of normalized
    // vectors comes to the driver (orderBy+limit plans as
    // TakeOrderedAndProject — a top-k, never a global sort of the
    // corpus), then Lloyd's runs locally over it. Driver state is
    // maxTrain × dim doubles (defaults: 20 k × 64 ≈ 10 MB) — bounded
    // regardless of corpus size, which is exactly FAISS's deployment
    // shape: codebook quality saturates long before the corpus is
    // exhausted, so a 100 TB corpus trains from the same 10 MB while
    // encode/score stay fully distributed. (The previous formulation ran
    // each Lloyd iteration as a corpus-sample-wide Spark job — correct,
    // but 6+ scheduler round-trips to move <10 MB of state.)
    val sample: Array[Array[Double]] = embDf
      .select(xxhash64(col(idCol), lit(seed)).as("__h"),
        col(idCol).as("__id"), normalized(col(embCol)).as("__v"))
      .orderBy(col("__h"), col("__id"))
      .limit(maxTrain)
      .select("__v")
      .collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "cannot train PQ on an empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m

    var books = Array.fill(m * ksub)(new Array[Double](dsub))
    // init: per subspace, the subvectors of the ksub hash-first samples
    // (seeded, stable across layouts — same draw the distributed
    // formulation used)
    sample.take(ksub).zipWithIndex.foreach { case (v, j) =>
      (0 until m).foreach { mi =>
        books(mi * ksub + j) = java.util.Arrays.copyOfRange(v, mi * dsub, (mi + 1) * dsub)
      }
    }
    var it = 0
    while (it < iters) {
      val sums = Array.fill(m * ksub)(new Array[Double](dsub))
      val counts = new Array[Long](m * ksub)
      sample.foreach { v =>
        var mi = 0
        while (mi < m) {
          // min-L2 codeword, lowest index on ties
          var best = 0; var bestD = Double.PositiveInfinity
          var j = 0
          while (j < ksub) {
            val c = books(mi * ksub + j)
            var s = 0.0; var p = 0
            while (p < dsub) {
              val d = c(p) - v(mi * dsub + p); s += d * d; p += 1
            }
            if (s < bestD) { bestD = s; best = j }
            j += 1
          }
          val row = mi * ksub + best
          var p = 0
          while (p < dsub) { sums(row)(p) += v(mi * dsub + p); p += 1 }
          counts(row) += 1
          mi += 1
        }
      }
      // empty codewords keep their previous value (standard Lloyd's)
      books = books.indices.map { i =>
        if (counts(i) == 0) books(i)
        else sums(i).map(_ / counts(i))
      }.toArray
      it += 1
    }
    books
  }

  /** `array<int>` of `m` codes for a vector (normalized internally):
    * code `mi` = min-L2 codeword of subspace `mi`. Map-only; this column
    * written next to the id IS the PQ index. */
  def encodeColumn(emb: Column, books: Array[Array[Double]], m: Int, ksub: Int): Column =
    GraftBridge.col(PqEncode(GraftBridge.expr(normalized(emb)), books, m, ksub))

  /** Approximate cosine via ADC: Σ_mi table[mi·ksub + code_mi], where the
    * table holds exact dot products of the normalized query's subvectors
    * with every codeword. */
  def adcColumn(codes: Column, books: Array[Array[Double]],
      query: Array[Double], m: Int, ksub: Int): Column = {
    val qn = Ivf.normalize(query)
    val dsub = qn.length / m
    val table = new Array[Double](m * ksub)
    var row = 0
    while (row < m * ksub) {
      val mi = row / ksub
      var s = 0.0; var p = 0
      while (p < dsub) { s += qn(mi * dsub + p) * books(row)(p); p += 1 }
      table(row) = s
      row += 1
    }
    GraftBridge.col(AdcScore(GraftBridge.expr(codes), table, ksub))
  }

  /** Deployment path: ADC over-fetches `k * refine` candidate ids from the
    * codes (cheap, compressed scan), then ONLY those rows are exact-cosine
    * re-ranked against the float vectors. Output schema matches
    * [[Similarity.bruteForceTopK]] so recall is directly comparable. */
  def pqTopKRerank(
      embDf: DataFrame, idCol: String, embCol: String,
      query: Array[Double], k: Int, refine: Int = 5,
      m: Int = 8, ksub: Int = 32, iters: Int = 2, seed: Long = 42L,
      maxTrain: Int = 20000): DataFrame = {
    val books = train(embDf, idCol, embCol, m, ksub, iters, seed, maxTrain)
    val candidates = embDf
      .select(col(idCol), encodeColumn(col(embCol), books, m, ksub).as("__codes"))
      .select(col(idCol), adcColumn(col("__codes"), books, query, m, ksub).as("__adc"))
      .orderBy(col("__adc").desc, col(idCol))
      .limit(k * refine)
      .select(idCol)
    embDf
      .join(broadcast(candidates), idCol)
      .select(col(idCol),
        round(Similarity.cosineToQuery(col(embCol), query), 4).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** x / ||x||₂ as array<double>; zero vectors pass through. */
  private[pipeline] def normalized(emb: Column): Column = {
    val v = transform(emb, x => x.cast("double"))
    val n = sqrt(aggregate(v, lit(0.0), (acc, x) => acc + x * x))
    transform(v, x => when(n === 0d, x).otherwise(x / n))
  }
}

/** array<double> (normalized) → array<int> of m min-L2 codes, one pass,
  * no explode — the encode side of the persisted PQ index. */
case class PqEncode(child: Expression, books: Array[Array[Double]], m: Int, ksub: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val dsub = arr.numElements() / m
    val codes = new Array[Any](m)
    var mi = 0
    while (mi < m) {
      val base = mi * ksub
      var best = 0; var bestD = Double.PositiveInfinity
      var j = 0
      while (j < ksub) {
        val c = books(base + j)
        var s = 0.0; var i = 0
        while (i < dsub) {
          val d = c(i) - arr.getDouble(mi * dsub + i); s += d * d; i += 1
        }
        if (s < bestD) { bestD = s; best = j }
        j += 1
      }
      codes(mi) = best
      mi += 1
    }
    new GenericArrayData(codes)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** array<int> codes → Σ table[mi·ksub + code_mi]. The per-query ADC lookup
  * table rides in the expression (m·ksub doubles — broadcast-sized). */
case class AdcScore(child: Expression, table: Array[Double], ksub: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc_score"

  override protected def nullSafeEval(input: Any): Any = {
    val codes = input.asInstanceOf[ArrayData]
    var s = 0.0; var mi = 0
    while (mi < codes.numElements()) {
      s += table(mi * ksub + codes.getInt(mi)); mi += 1
    }
    s
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
