package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language ID, fingerprinting. Everything is
  * composed from codegen'd built-in functions (no UDFs) so the whole pipeline
  * stays inside WholeStageCodegen and scales linearly with executors.
  */
object TextAnalysis {

  /** Whitespace tokens (the documents fixture is single-space separated;
    * `\s+` also handles real text). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  def charLen(text: Column): Column = length(text)

  /** Ratio of punctuation characters to all characters. */
  def punctRatio(text: Column): Column = {
    val stripped = regexp_replace(text, "[\\p{Punct}]", "")
    (length(text) - length(stripped)).cast("double") / length(text)
  }

  /** Ratio of alphabetic characters to all characters. */
  def alphaRatio(text: Column): Column = {
    val alpha = regexp_replace(text, "[^\\p{L}]", "")
    length(alpha).cast("double") / length(text)
  }

  // Small per-language stopword profiles (public, standard lists).
  private val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "it", "that", "for",
      "on", "with", "as", "this", "was", "are", "be", "at", "by", "an"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "una", "los", "las",
      "por", "con", "para", "es", "al", "lo", "como", "del", "se", "su"),
    "fr" -> Seq("le", "la", "les", "de", "des", "et", "en", "un", "une", "du",
      "que", "qui", "dans", "pour", "est", "au", "avec", "sur", "ce", "pas"),
    "de" -> Seq("der", "die", "das", "und", "in", "den", "von", "zu", "mit",
      "ist", "des", "im", "ein", "eine", "auf", "für", "als", "auch", "es", "an"))

  /** Fraction of characters in the CJK unified ideograph range. */
  def cjkRatio(text: Column): Column = {
    val cjk = regexp_replace(text, "[^\\x{4e00}-\\x{9fff}]", "")
    length(cjk).cast("double") / length(text)
  }

  /** n-gram-heuristic language ID over {en,es,fr,de,zh}: CJK ratio decides
    * zh; otherwise the language with the highest stopword hit-rate wins
    * (ties toward the larger code). One-pass native kernel
    * ([[graft.functions.LangIdPredict]]) — the Column formulation cost a
    * tokenize + interpreted higher-order filter per language plus two
    * regexp passes per document.
    */
  def langId(text: Column): Column =
    graft.functions.LangIdPredict(text,
      stopwords.keys.toSeq.sorted.map(l => l -> stopwords(l)))

  /** Composite quality score in [0,1]: penalizes extreme length, high
    * punctuation, low alphabetic content — the usual pretraining-corpus
    * heuristics. */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text).cast("double")
    val lengthOk = when(nTok.between(5, 5000), 1.0).otherwise(0.3)
    val punctOk = when(punctRatio(text) < 0.3, 1.0).otherwise(0.4)
    val alphaOk = greatest(alphaRatio(text), cjkRatio(text))
    round(lengthOk * 0.3 + punctOk * 0.2 + alphaOk * 0.5, 6)
  }

  /** 64-bit document fingerprint over whitespace-normalized text. */
  def fingerprint(text: Column): Column =
    xxhash64(concat_ws(" ", tokens(text)))

  /** k-token shingles as strings; short docs fall back to the whole text as
    * one shingle so every doc gets >=1. Native single-pass kernel
    * ([[graft.functions.ShingleJoin]]) — the transform()-lambda
    * formulation evaluated interpreted per gram on the corpus hot path. */
  def shingles(text: Column, k: Int): Column =
    graft.functions.ShingleJoin(tokens(text), k)

  /** n-gram repetition character masses — struct(top_chars, dup_chars) from
    * the single-pass [[graft.functions.GramRepStats]] kernel over
    * [[shingles]]. Divide by `length(text)` (capped at 1.0 for dup) to get
    * the Gopher repetition quality fractions. Map-only; no shuffle. */
  def repetitionStats(text: Column, n: Int): Column =
    graft.functions.GramRepStats(shingles(text, n))

  /** BERT MLM masking (Devlin et al. 2018 §3.1): deterministic 80/10/10
    * masked-token pairs — struct(masked, labels, n_masked). One-pass
    * native kernel ([[graft.functions.MlmMask]]); md5 rules replay in SQL. */
  def mlmMask(text: Column, id: Column, ratePct: Int = 15): Column =
    graft.functions.MlmMask(tokens(text), id.cast("string"), ratePct)

  /** FIM — fill-in-the-middle transformation (Bavarian et al. 2022):
    * split the document at two deterministic cut points into
    * prefix/middle/suffix and emit the PSM training string
    * `<PRE> prefix <SUF> suffix <MID> middle` (the autoregressive infilling
    * objective; char-level, like the paper). Cut points are md5 buckets of
    * the row id — reruns and engines agree. Pure codegen'd column ops. */
  def fimTransform(text: Column, id: Column): Column = {
    val len = length(text)
    val c1 = (sampleBucket(concat(id.cast("string"), lit(":a")), 1000000)
      % greatest(len, lit(1))) + 1
    val c2 = (sampleBucket(concat(id.cast("string"), lit(":b")), 1000000)
      % greatest(len, lit(1))) + 1
    val lo = least(c1, c2)
    val hi = greatest(c1, c2)
    concat(
      lit("<PRE>"), text.substr(lit(1), lo - 1),
      lit("<SUF>"), text.substr(hi + 1, len - hi),
      lit("<MID>"), text.substr(lo, hi - lo + 1))
  }

  /** T5 span corruption (Raffel et al. 2020 §3.1.4): deterministic masked-
    * span denoising pairs — struct(input, target, n_spans). One-pass
    * native kernel ([[graft.functions.SpanCorrupt]]); the md5 mask rule
    * replays in SQL. */
  def spanCorrupt(text: Column, id: Column, ratePct: Int = 15): Column =
    graft.functions.SpanCorrupt(tokens(text), id.cast("string"), ratePct)

  /** CCNet-style canonicalization (Wenzek et al. 2020 §3.1) — NFKC,
    * casefold, accent strip, digit→0 — applied before fingerprint/MinHash
    * so trivial variants dedup together. One-pass native expression. */
  def normalizeText(text: Column): Column =
    graft.functions.NormalizeText(text)

  /** Shannon entropy (bits) of the text's code-point distribution — the
    * gibberish / encoded-blob signal of Dolma-family quality filters.
    * Single-pass [[graft.functions.CharEntropy]] kernel; map-only. */
  def charEntropy(text: Column): Column =
    graft.functions.CharEntropy(text)

  /** Overlapping fixed-size token chunks — the RAG / context-window
    * splitting step: chunk i covers tokens [i·stride, i·stride+size) with
    * stride = size − overlap; the last chunk may run short, and every doc
    * yields ≥ 1 chunk. Map-only (sequence + slice + posexplode), so it
    * runs at scan speed and the chunk count per doc is exact:
    * max(1, ⌈(n − overlap)/stride⌉). */
  def chunk(
      df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      size: Int, overlap: Int): org.apache.spark.sql.DataFrame = {
    require(overlap < size, "overlap must be smaller than chunk size")
    val stride = size - overlap
    val toks = tokens(col(textCol))
    val n = org.apache.spark.sql.functions.size(toks)
    val nChunks = greatest(lit(1),
      ceil((n - overlap).cast("double") / stride).cast("int"))
    df.select(col(idCol), toks.as("__toks"), nChunks.as("__nc"))
      .select(col(idCol), posexplode(transform(
        sequence(lit(0), col("__nc") - 1),
        i => slice(col("__toks"), i * stride + 1, lit(size))))
        .as(Seq("chunk_id", "__chunk")))
      .select(col(idCol), col("chunk_id"),
        concat_ws(" ", col("__chunk")).as("chunk_text"),
        org.apache.spark.sql.functions.size(col("__chunk")).cast("long")
          .as("n_chunk_tokens"))
  }

  /** Deterministic content-hash sampling bucket in [0, buckets): md5-prefix
    * based, so the same document lands in the same bucket across runs,
    * engines and re-partitions — the property reproducible corpus
    * subsampling needs (a `rand()` sample is neither re-runnable nor
    * consistent between a pipeline and its audit). Map-only. */
  def sampleBucket(text: Column, buckets: Int = 100): Column =
    conv(substring(md5(text), 1, 8), 16, 10).cast("long") % buckets

  /** Deterministic train/val/test assignment from an id hash: the same
    * document lands in the same split across runs, engines and data
    * layouts (a `randomSplit` is neither — re-shuffling the corpus moves
    * documents between splits and silently contaminates eval). The salt
    * keeps the split draw independent of any sampling draw on the same id.
    * Map-only. */
  def hashSplit(
      id: Column, trainPct: Int = 80, valPct: Int = 10,
      salt: String = ":split"): Column = {
    val b = sampleBucket(concat(id.cast("string"), lit(salt)), 100)
    when(b < trainPct, "train")
      .when(b < trainPct + valPct, "val")
      .otherwise("test")
  }

  /** Cap each key's rows at `n`, keeping a deterministic content-hash
    * priority (the C4-style per-domain quota: no single source dominates
    * the corpus, and reruns keep the same docs). One window shuffle on the
    * key; the `row_number <= n` filter triggers Spark's WindowGroupLimit
    * rewrite, so each map task keeps only its local top-n per key before
    * shuffling — a dominating key ships O(tasks·n) rows, not its whole
    * partition. */
  def capPerKey(
      df: org.apache.spark.sql.DataFrame, keyCol: String, idCol: String,
      textCol: String, n: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.withColumn("__rk", row_number().over(
        Window.partitionBy(col(keyCol)).orderBy(md5(col(textCol)), col(idCol))))
      .filter(col("__rk") <= n).drop("__rk")
  }

  /** MinHash signature from a shingle-set column: single-pass native
    * expression (see [[graft.functions.MinHashSig]]). array<long> of length
    * numHashes. */
  def minhashSignature(shingleSet: Column, numHashes: Int): Column =
    graft.functions.MinHashSig(shingleSet, numHashes)

  /** A signed-long signature slot rendered as its UNSIGNED decimal string
    * (the mod-2^64 value) — the representation the SQL oracle's HUGEINT
    * arithmetic produces natively, so band keys agree across engines. */
  private def u64str(x: Column): Column =
    when(x >= 0, x.cast("string"))
      .otherwise((x.cast(org.apache.spark.sql.types.DecimalType(22, 0)) +
        lit(new java.math.BigDecimal("18446744073709551616")))
        .cast(org.apache.spark.sql.types.DecimalType(20, 0)).cast("string"))

  /** LSH band keys from a minhash signature: `bands` keys, each the md5 of
    * a contiguous `rows`-slice of the signature (unsigned-decimal slots,
    * comma-joined — replayable as `md5(string_agg(m::VARCHAR, ','))` in
    * SQL). Docs sharing any band key are near-dup candidates (classic
    * banding: b bands of r rows trade precision against recall). */
  def minhashBands(sig: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => md5(concat_ws(",",
        transform(slice(sig, b * rows + 1, lit(rows)), x => u64str(x)))))
}
