package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Substring-level exact deduplication (Lee et al. 2022, "Deduplicating
  * Training Data Makes Language Models Better"): find maximal token runs
  * that occur verbatim in more than one document and excise the repeated
  * occurrences, keeping exactly one canonical copy in the corpus. This is
  * the missing granularity between whole-document exact dedup
  * ([[Dedup.exact]] — drops only full-text copies) and fingerprint clone
  * DETECTION ([[Winnow]] — reports pairs but removes nothing): boilerplate
  * headers, license blocks, and quoted passages survive both, yet are the
  * dominant verbatim duplication in web-scale corpora.
  *
  * The paper builds a corpus-wide suffix array; a faithful distributed
  * suffix array is a research project of its own. The Spark-first
  * equivalent keeps the paper's guarantee at k-token resolution: a token
  * run of length ≥ k duplicated across documents is covered by at least
  * one duplicated k-shingle, so marking every duplicated shingle
  * occurrence and merging overlapping/adjacent covered ranges recovers
  * every duplicated run ≥ k tokens (maximal up to k−1 tokens of slack at
  * the edges, the standard shingle-resolution bound).
  *
  * Ownership rule (which copy survives): the occurrence in the document
  * with the smallest id is canonical; every occurrence in a higher-id
  * document is marked duplicated. Deterministic, join-free to express, and
  * what incremental re-runs want (old corpus ids < new batch ids ⇒
  * re-ingested text dedups against the existing corpus).
  *
  * 100 TB shape: shingle generation is map-only after a round-robin
  * spread (the [[Decontaminate]] pattern — a small file must not serialize
  * tokenization on one core). Ownership is a groupBy(hash)→min(id)
  * aggregate — map-side partial aggregation absorbs hot boilerplate
  * shingles — followed by an equi-join back on the hash, where AQE's skew
  * split handles the same hot keys. Span merge is two windows and an
  * aggregate all on the SAME doc-id partitioning (one shuffle). Nothing
  * collects to the driver; no operator is quadratic in corpus size.
  */
object SubstringDedup {

  /** Engine-portable shingle hash: md5 of the space-joined k tokens,
    * first 15 hex digits as an integer — DuckDB replays it as
    * `('0x' || substr(md5(g), 1, 15))::BIGINT` (the [[Winnow]] scheme). */
  private def gramHash(gram: org.apache.spark.sql.Column) =
    conv(substring(md5(gram), 1, 15), 16, 10).cast("long")

  /** One row per (id, pos) whose k-shingle also occurs in a lower-id
    * document; `pos` is the 0-based token index of the shingle start. */
  private def duplicatedPositions(
      docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val sc = docs.sparkSession.sparkContext
    val grams = docs
      .select(col(idCol).as("__id"),
        split(trim(col(textCol)), "\\s+").as("__toks"))
      .filter(size(col("__toks")) >= k)
      .repartition(sc.defaultParallelism)
      .select(col("__id"), col("__toks"),
        explode(sequence(lit(0), size(col("__toks")) - k)).as("pos"))
      .select(col("__id"), col("pos"),
        gramHash(concat_ws(" ", slice(col("__toks"), col("pos") + 1, lit(k))))
          .as("__h"))
    // two-phase min beats a window here: partial aggregation collapses a
    // boilerplate shingle's millions of occurrences map-side, where a
    // min-over-partition window would shuffle every occurrence to one task
    val owners = grams.groupBy("__h").agg(min("__id").as("__owner"))
    grams.join(owners, "__h")
      .filter(col("__id") > col("__owner"))
      .select(col("__id"), col("pos"))
  }

  /** Maximal duplicated spans per document: (id, span_start, span_end,
    * span_tokens), token indices 0-based inclusive. Overlapping or
    * seamlessly adjacent shingle covers ([pos, pos+k−1]) merge into one
    * span — the gaps-and-islands running-max pattern, all windows on the
    * doc-id partitioning the previous join already produced. */
  def duplicatedSpans(
      docs: DataFrame, idCol: String, textCol: String, k: Int = 8): DataFrame = {
    val dup = duplicatedPositions(docs, idCol, textCol, k)
    val byPos = Window.partitionBy("__id").orderBy("pos")
    dup
      .withColumn("__pm",
        max(col("pos") + lit(k - 1)).over(byPos.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__brk",
        when(col("__pm").isNull || col("pos") > col("__pm") + 1, 1).otherwise(0))
      .withColumn("__g",
        sum("__brk").over(byPos.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("__id"), col("__g"))
      .agg(min("pos").as("span_start"),
        (max("pos") + lit(k - 1)).cast("long").as("span_end"))
      .select(col("__id").as(idCol),
        col("span_start").cast("long").as("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** The corpus with repeated substrings excised: every document keeps its
    * tokens outside duplicated spans (single-space rejoined; documents
    * with nothing duplicated pass through verbatim). The span list per doc
    * is bounded by document length, so the exists-per-token reconstruction
    * is document-local work; only documents that HAVE duplicated spans
    * take the lambda path at all. */
  def removeDuplicated(
      docs: DataFrame, idCol: String, textCol: String, k: Int = 8): DataFrame = {
    val spans = duplicatedSpans(docs, idCol, textCol, k)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__spans"),
        sum("span_tokens").as("__removed"))
    val passthrough = docs.columns.map(docs(_))
    docs.join(spans, Seq(idCol), "left")
      .select(passthrough :+
        coalesce(col("__removed"), lit(0L)).as("removed_tokens") :+
        when(col("__spans").isNull, col(textCol))
          .otherwise(concat_ws(" ",
            filter(split(trim(col(textCol)), "\\s+"),
              (tok, i) => !exists(col("__spans"),
                sp => i >= sp("span_start") && i <= sp("span_end")))))
          .as("clean_text"): _*)
  }

  /** Per-document duplication diagnostic: of a doc's k-shingles, how many
    * occur in MORE THAN ONE distinct document (symmetric — the canonical
    * owner counts too, unlike the excision ownership rule). This is the
    * metric that tunes dedup thresholds before committing to an excision
    * run. Output: (id, n_shingles, n_dup, dup_bp) with the rate in
    * floor-scaled basis points.
    *
    * Shape: the same map-only shingling as the excision path, one
    * count-distinct-docs hash-agg per shingle, equi-join back, per-doc
    * agg — no windows, nothing quadratic. */
  def duplicationProfile(
      docs: DataFrame, idCol: String, textCol: String, k: Int = 8): DataFrame = {
    val sc = docs.sparkSession.sparkContext
    val grams = docs
      .select(col(idCol).as("__id"),
        split(trim(col(textCol)), "\\s+").as("__toks"))
      .filter(size(col("__toks")) >= k)
      .repartition(sc.defaultParallelism)
      .select(col("__id"),
        explode(sequence(lit(0), size(col("__toks")) - k)).as("pos"),
        col("__toks"))
      .select(col("__id"),
        gramHash(concat_ws(" ", slice(col("__toks"), col("pos") + 1, lit(k))))
          .as("__h"))
    val spread = grams.groupBy("__h")
      .agg(countDistinct(col("__id")).as("__nd"))
    grams.join(spread, "__h")
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__nd") > 1, 1L).otherwise(0L)).as("n_dup"))
      .select(col("__id").as(idCol), col("n_shingles"), col("n_dup"),
        floor(col("n_dup") * 10000.0 / col("n_shingles")).cast("long")
          .as("dup_bp"))
  }
}
