package graft.queries

import graft.{GraftQuery, Tables}
import graft.pipeline.{Decontaminate, Dedup, DomainStats, Ivf, LanguageModel, Multimodal, Pii, Pq, Relevance, Similarity, TextAnalysis, TokenizerAudit, UrlCanon}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline battery over the documents/embeddings
  * fixtures: text analysis, the dedup family, similarity search, multimodal
  * plumbing. Queries whose outputs depend on engine-private hashing
  * (minhash/simhash/LSH) return summary rows and are asserted in
  * PipelineSpec against exact recomputations instead of a SQL oracle.
  */
object PipelineQueries {
  import Tables.t
  import TextAnalysis._

  /** The fixture's vec_id=0 embedding, collected once per call (64 floats —
    * a constant query vector, the ANN access pattern). */
  private def queryVec(s: org.apache.spark.sql.SparkSession, dir: String): Array[Double] =
    t(s, dir, "embeddings").filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray

  /** Cross-query memoization goes to DISK (temp parquet), not
    * localCheckpoint: the Bench/Verify harnesses unpersist all pinned
    * blocks between queries (inter-query isolation), which would destroy a
    * memory-backed memo's checkpoint blocks and error the consumer. A
    * parquet round-trip also keeps the long-lived session's block manager
    * empty — the same reason a production pipeline materializes shared
    * intermediates to storage rather than caching them across jobs. */
  private val diskMemo = new java.util.concurrent.ConcurrentHashMap[
    (Int, String, String), String]()

  /** Ordered log of memo entries a builder actually BUILT (as opposed to
    * read warm), for Bench's spike-remeasure adjudication: the re-run of
    * a spiked FIRST CONSUMER would otherwise read the parquet its first
    * pass materialized and report a structurally-warm minimum (r10's
    * q325: 100.8 s contended first pass, 0.9 s memo-read "re-measure" —
    * below even its quiet cold cost). Bench brackets each first-pass
    * query with [[memoBuildMark]] and invalidates that query's builds via
    * [[invalidateMemoBuilds]] before every re-run, so the min it reports
    * is contention evidence, not structure evidence. */
  private val memoBuilds = new java.util.concurrent.CopyOnWriteArrayList[
    ((Int, String, String), String)]()

  /** Current build-log length — bracket a timed run with two marks to
    * attribute memo builds to the query that paid for them. */
  def memoBuildMark: Int = memoBuilds.size()

  /** Invalidate the memo entries logged in positions [from, until):
    * remove them from the map (the next consumer rebuilds into a fresh
    * temp dir — the normal first-consumer path) and delete the backing
    * parquet best-effort (TempDirs' shutdown hook would get it anyway).
    * Safe only between queries of a sequential battery: a concurrently
    * EXECUTING plan may still be scanning the deleted files. Returns the
    * number of entries removed. */
  def invalidateMemoBuilds(from: Int, until: Int): Int = {
    var removed = 0
    var i = math.max(from, 0)
    while (i < math.min(until, memoBuilds.size())) {
      val (key, path) = memoBuilds.get(i)
      // conditional remove: a REBUILD after an earlier invalidation logs
      // the same key with a fresh path — invalidating the old span must
      // not clobber the live rebuilt entry
      if (diskMemo.remove(key, path)) {
        removed += 1
        try {
          val s = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
          try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
          finally s.close()
        } catch { case _: Throwable => () }
      }
      i += 1
    }
    removed
  }

  private def memoized(
      s: org.apache.spark.sql.SparkSession, dir: String, key: String)(
      build: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val path = diskMemo.computeIfAbsent(
      (System.identityHashCode(s), dir, key), k => {
        val p = graft.TempDirs.create(s"graft-memo-$key").toString
        build.write.mode("overwrite").parquet(p)
        memoBuilds.add((k, p))
        p
      })
    s.read.parquet(path)
  }

  /** Exact Jaccard near-dup pairs over documents, memoized per (session,
    * fixture dir): q54 measures the pair generation itself; q87 (cluster
    * step) consumes the same pairs — recomputing them there would time the
    * generator twice. */
  private def jaccardPairs(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    memoized(s, dir, "jacc") {
      Dedup.ngramJaccardPairs(
        t(s, dir, "documents"), "doc_id", "text", "lang", n = 1, threshold = 0.8)
    }

  /** DSIR importance weights (English target), memoized per (session, dir):
    * q116 measures the model fit itself; q117 (the Gumbel resample) draws
    * from the same weights — re-fitting there would time the fit twice. */
  private def dsirWeights(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    memoized(s, dir, "dsir") {
      graft.pipeline.Dsir.importanceWeights(
        t(s, dir, "documents"), "doc_id", "text", col("lang") === "en")
    }

  /** Fuzzy cluster membership memoized per (session, dir) — ONE place
    * holds the docs frame + FuzzyOp operating point for BOTH clustering
    * grains, so the per-domain (q313/q314/q316) and global (q325/q326)
    * families cannot drift apart. Computing each clustering once and
    * injecting it via membersOpt is the jaccardPairs pattern (the first
    * consumer pays the clustering + parquet write; the rest read the
    * materialized frame). */
  private def fuzzyMembersMemo(
      s: org.apache.spark.sql.SparkSession, dir: String, key: String,
      build: (org.apache.spark.sql.DataFrame, String, String, String,
        Int, Int, Int, Int, Int, Int) => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    memoized(s, dir, key) {
      build(t(s, dir, "documents").withColumn("url", syntheticUrl),
        "url", "doc_id", "text", FuzzyOp.grain, FuzzyOp.shingleK,
        FuzzyOp.numHashes, FuzzyOp.bands, FuzzyOp.jacNum, FuzzyOp.jacDen)
    }

  private def domainFuzzyMembersMemo(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    fuzzyMembersMemo(s, dir, "dfuzzy", DomainStats.domainFuzzyMembers)

  private def globalFuzzyMembersMemo(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    fuzzyMembersMemo(s, dir, "gfuzzy", DomainStats.globalFuzzyMembersFrame)

  /** q324/q328's shared stage-1 keeper set — the weighted-caps chain at
    * the release-pipeline operating point (domainSyndication minDomains=3
    * grain=8 → cap = max(5, 30 − syndication step) → dedupByUrl →
    * capDedupedBy defaultCap=30) — memoized per (session, dir): both
    * release pipelines pin the IDENTICAL capped population, and
    * recomputing the chain in each timed the caps builder twice (~2–3 s
    * apiece at sf0.1). The jaccardPairs pattern: the first consumer pays
    * the build + parquet write, the rest read the materialized ids; the
    * parquet read also provides the multi-consumer pin the previous
    * per-query localCheckpoint did (three consumers: the capped-corpus
    * semi-join and both pair-endpoint restrictions). q323 is NOT a
    * consumer — its cap formula (defaultCap=3) is a different operating
    * point. */
  private[graft] def relcapsKeptIds(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    memoized(s, dir, "relcaps") {
      val withUrl = t(s, dir, "documents").withColumn("url", syntheticUrl)
      val caps = DomainStats.domainSyndication(
          withUrl, "url", "doc_id", "text", minDomains = 3, grain = 8)
        .select(col("domain").as("url_domain"),
          greatest(lit(5), lit(30) -
            when(col("synd_in_bp") >= 1000, 20)
              .when(col("synd_in_bp") >= 700, 10).otherwise(0)).as("cap"))
      val dd = UrlCanon.dedupByUrl(withUrl, "url", "doc_id")
      UrlCanon.capDedupedBy(dd, caps, defaultCap = 30)
        .select(col("keeper_id").as("doc_id"))
    }

  /** Domain keep/drop on cleaned per-document stats (`cd`: doc_id,
    * domain, clean_tokens): a domain survives while under 4000 bp of its
    * documents keep fewer than 40 clean tokens. The pipelines judge
    * quality AFTER cleaning, so template chrome no longer pads thin pages
    * past the bar. Composed by q317/q322/q324/q328 through
    * [[cleanedRelease]] (oracle twin: [[keptDomainsCteSqlOf]]). */
  private def cleanedKeptDomains(cd: DataFrame): DataFrame =
    cd.groupBy("domain")
      .agg(count(lit(1)).as("__n"),
        sum(when(col("clean_tokens") < 40, 1L).otherwise(0L)).as("__nl"))
      .filter(floor(col("__nl") * 10000.0 / col("__n")).cast("long") < 4000)
      .select("domain")

  /** Near-dup clusters over `pairs`, then soft-dedup weights
    * (`weight_x10000` = ⌊10000 / cluster size⌋) over the population `pop`.
    * Returns the cluster assignment `cc(doc_id, cluster_id)` too: ONE CC
    * execution feeds both the weights and a cluster split (the CC loop is
    * eager; a second `softDedupWeights` call would run the whole
    * iterative join loop again). Composed by q307 and, through
    * [[cleanedRelease]], q317/q322/q324/q328 (oracle twin:
    * [[clusterWeightCteSqlOf]]). */
  private def clusterWeights(
      pop: DataFrame, pairs: DataFrame): (DataFrame, DataFrame) = {
    val cc = Dedup.connectedComponents(pairs).withColumnRenamed("id", "doc_id")
    (cc, Dedup.softDedupWeightsFromCC(pop, "doc_id", cc))
  }

  /** Per-split masses: hash-split `key` (80/10/10), then per split the
    * distinct keys (as `nKeys`), documents, effective documents (the sum
    * of `weight_x10000`) and each `sums` column (column → output name);
    * `derive` adds per-document columns after the split label (q307's
    * raw token count). Composed by q307 and [[cleanedRelease]] (oracle
    * twin: [[releaseReportSql]]). */
  private def splitMasses(df: DataFrame, key: String, nKeys: String,
      sums: Seq[(String, String)],
      derive: DataFrame => DataFrame = identity): DataFrame =
    derive(df.withColumn("split", TextAnalysis.hashSplit(col(key))))
      .groupBy("split")
      .agg(countDistinct(key).as(nKeys), count(lit(1)).as("n_docs") +:
        (("weight_x10000" -> "eff_docs_x10000") +: sums)
          .map { case (c, n) => sum(c).as(n) }: _*)

  /** The cleaned-stats release chain that q317/q322/q324/q328 compose:
    * population → cleaning core → [[cleanedKeptDomains]] →
    * [[clusterWeights]] → split → [[splitMasses]] with `clean_tokens`
    * and `extraSums`. When `capped`, the population is the memoized
    * [[relcapsKeptIds]] keeper set and the near-dup pairs are restricted
    * to it on both endpoints — identical to regenerating the pairs over
    * the capped corpus, without a second generator run; otherwise it is
    * every document. `byCluster` splits on the near-dup cluster (its min id,
    * singletons their own), so no near-dup pair straddles an eval
    * boundary; otherwise on the registered domain. `core` maps the
    * population (with `url`) to per-document cleaned stats. */
  private def cleanedRelease(
      s: SparkSession, dir: String, capped: Boolean, byCluster: Boolean,
      extraSums: (String, String)*)(
      core: DataFrame => DataFrame): DataFrame = {
    val withUrl = t(s, dir, "documents").withColumn("url", syntheticUrl)
    val keepers = if (capped) Some(relcapsKeptIds(s, dir)) else None
    val cd = core(keepers.fold(withUrl)(k =>
      withUrl.join(k, Seq("doc_id"), "left_semi")))
    val keptd = cleanedKeptDomains(cd)
    val pairs = keepers.foldLeft(jaccardPairs(s, dir))((p, k) => p
      .join(k.select(col("doc_id").as("id_a")), Seq("id_a"), "left_semi")
      .join(k.select(col("doc_id").as("id_b")), Seq("id_b"), "left_semi"))
    val (cc, weighted) =
      clusterWeights(keepers.getOrElse(t(s, dir, "documents")), pairs)
    val kept = cd.join(broadcast(keptd), "domain")
      .join(weighted.select(col("doc_id"), col("weight_x10000")), "doc_id")
    val sums = ("clean_tokens" -> "clean_tokens") +: extraSums
    if (!byCluster) splitMasses(kept, "domain", "n_domains", sums)
    else splitMasses(kept.join(cc, Seq("doc_id"), "left")
        .withColumn("__cl", coalesce(col("cluster_id"), col("doc_id"))),
      "__cl", "n_clusters", sums)
  }

  /** Deterministic synthetic URL per document (the fixture has no URL
    * column): scheme/case/port/tracking/fragment variants derived from
    * doc_id so canonicalization has real work to do and the DuckDB oracle
    * can rebuild the exact same string (twin: `urlBuildSql`). */
  private[graft] def syntheticUrl: org.apache.spark.sql.Column = {
    val id = col("doc_id")
    concat(
      when(id % 3 === 0, lit("http://"))
        .when(id % 3 === 1, lit("https://")).otherwise(lit("HTTPS://")),
      when(id % 4 === 0, lit("WWW.")).otherwise(lit("")),
      when(id % 17 === 0, lit("cdn.")).otherwise(lit("")),
      when(id % 9 === 0, upper(col("source"))).otherwise(col("source")),
      when(id % 5 === 0, lit(".co.uk"))
        .when(id % 5 === 2, lit(".github.io"))
        .when(id % 5 === 4, lit(".ne.jp")).otherwise(lit(".com")),
      when(id % 2 === 0,
        when(id % 3 === 0, lit(":80")).otherwise(lit(":443")))
        .otherwise(lit("")),
      lit("/docs/"), col("lang"), lit("/p"), (id % 40).cast("string"),
      when(id % 7 === 0, lit("/")).otherwise(lit("")),
      when(id % 2 === 0, concat(lit("?utm_source=feed&id="),
          (id % 10).cast("string"), lit("&q=spark")))
        .when(id % 11 === 0, concat(lit("?id="), (id % 10).cast("string")))
        .otherwise(lit("")),
      when(id % 13 === 0, lit("#frag")).otherwise(lit("")))
  }

  private val urlBuildSql =
    """CASE doc_id % 3 WHEN 0 THEN 'http://' WHEN 1 THEN 'https://' ELSE 'HTTPS://' END ||
      |CASE WHEN doc_id % 4 = 0 THEN 'WWW.' ELSE '' END ||
      |CASE WHEN doc_id % 17 = 0 THEN 'cdn.' ELSE '' END ||
      |CASE WHEN doc_id % 9 = 0 THEN upper(source) ELSE source END ||
      |CASE WHEN doc_id % 5 = 0 THEN '.co.uk'
      |     WHEN doc_id % 5 = 2 THEN '.github.io'
      |     WHEN doc_id % 5 = 4 THEN '.ne.jp' ELSE '.com' END ||
      |CASE WHEN doc_id % 2 = 0 THEN CASE WHEN doc_id % 3 = 0 THEN ':80' ELSE ':443' END ELSE '' END ||
      |'/docs/' || lang || '/p' || (doc_id % 40) ||
      |CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END ||
      |CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&id=' || (doc_id % 10) || '&q=spark'
      |     WHEN doc_id % 11 = 0 THEN '?id=' || (doc_id % 10) ELSE '' END ||
      |CASE WHEN doc_id % 13 = 0 THEN '#frag' ELSE '' END""".stripMargin

  /** UrlCanon's rule list as DuckDB SQL over a CTE `u(doc_id, url)` —
    * parses scheme/host/port/path/query with the same regexes, same
    * order of operations (the oracle twin of `UrlCanon`). */
  private val urlCanonSql =
    """SELECT doc_id,
      |  lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
      |  regexp_replace(regexp_replace(lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)), ':[0-9]+$', ''), '^www\.', '') AS host,
      |  regexp_extract(lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)), ':([0-9]+)$', 1) AS port,
      |  CASE WHEN regexp_replace(regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1), '/+$', '') = '' THEN '/'
      |       ELSE regexp_replace(regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1), '/+$', '') END AS path,
      |  regexp_replace(regexp_replace(regexp_extract(url, '\?([^#]*)', 1), '(^|&)(utm_[a-z]+|fbclid|gclid|ref)=[^&]*', '', 'g'), '^&+', '') AS qs
      |FROM u""".stripMargin

  /** Canonical-URL + registered-domain assembly over `c0` (the
    * `urlCanonSql` output) — shared by every URL-bearing oracle. The
    * registered-domain CASE is GENERATED from the same `Psl` rule vals
    * the engine matches against, so the PSL snapshot cannot drift
    * between the two sides. */
  private val urlAssembleSql =
    s"""SELECT doc_id,
       |  scheme || '://' || host ||
       |  CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
       |            OR (scheme = 'https' AND port = '443')
       |       THEN '' ELSE ':' || port END || path ||
       |  CASE WHEN qs = '' THEN ''
       |       ELSE '?' || array_to_string(list_sort(string_split(qs, '&')), '&') END
       |    AS canonical,
       |  ${graft.pipeline.Psl.domainCaseSql("host", "ls", "pub")} AS domain,
       |  host, path
       |FROM (SELECT *, string_split(host, '.') AS ls,
       |        ${graft.pipeline.Psl.pubLenCaseSql("string_split(host, '.')")} AS pub
       |      FROM c0)""".stripMargin

  /** The URL CTEs over `documents`: synthetic URL `u` → parsed `c0` →
    * `c(doc_id, canonical, domain, host, path)` — the prefix of every
    * URL-bearing oracle over `documents`. */
  private val urlCteSql =
    s"""u AS (SELECT doc_id, $urlBuildSql AS url FROM documents),
       |c0 AS ($urlCanonSql),
       |c AS ($urlAssembleSql)""".stripMargin

  /** The content-defined paragraph CTE chain (pt → ptok → pseg → paras;
    * internal names are p-prefixed so the chain can coexist with
    * [[jaccPairCteSql]]'s `t`/`p` in one WITH — the q317 capstone needs
    * both) shared by the q308/q309 oracles — the CdcParagraphs twin: boundary
    * after tokens whose md5 first byte % 8 == 0, paragraphs re-joined
    * with single spaces in position order. ONE definition so a grain or
    * boundary change cannot drift between the two oracles and the
    * engine expression. */
  private def paraCteSqlOf(grain: Int, from: String = "documents") =
    s"""pt AS (SELECT doc_id, source,
       |    string_split_regex(trim(text), '\\s+') AS toks FROM $from),
       |ptok AS (SELECT doc_id, source, i.i AS pos, toks[i.i] AS tok
       |  FROM pt CROSS JOIN LATERAL
       |    (SELECT unnest(generate_series(1, len(toks))) AS i) i),
       |pseg AS (SELECT doc_id, source, pos, tok,
       |    coalesce(sum(CASE WHEN ('0x' || substr(md5(tok), 1, 2))::INT % $grain = 0
       |        THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY pos
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS para_idx
       |  FROM ptok),
       |paras AS (SELECT doc_id, source, para_idx,
       |    string_agg(tok, ' ' ORDER BY pos) AS para, count(*) AS n_tok
       |  FROM pseg GROUP BY 1, 2, 3)""".stripMargin

  private val paraCteSql = paraCteSqlOf(8)

  /** [[urlCteSql]] plus the grain-8 paragraphs with their registered
    * domain, `pdx(doc_id, para_idx, para, n_tok, domain)` — the prefix of
    * q317/q322/q323/q324/q328. */
  private val urlParaCteSql =
    urlCteSql + ",\n" + paraCteSql + """,
      |pdx AS (SELECT p.doc_id, p.para_idx, p.para, p.n_tok, c.domain
      |  FROM paras p JOIN c USING (doc_id))""".stripMargin

  /** The ONE fuzzy-template operating point, threaded into BOTH the
    * engine call sites (q313/q314/q316 lambdas) and the shared oracle
    * CTEs below — a parameter changed here changes every consumer on
    * both sides at once; there is no second copy to drift. `shingleK`
    * is structurally baked into the CTE's unigram `unnest` (a k > 1
    * point would need a new shingle CTE, not a literal edit) and into
    * the lambdas via this val. */
  private[graft] object FuzzyOp {
    val minDocs = 2; val grain = 16; val shingleK = 1
    val numHashes = 64; val bands = 16; val jacNum = 4; val jacDen = 5
    val rowsPerBand: Int = numHashes / bands
  }

  /** The fuzzy paragraph-cluster CTE chain (url assembly → grain-16
    * paragraphs → per-domain distinct paragraphs → md5-portable minhash
    * replay → banded candidates → exact integer-Jaccard verify →
    * recursive-closure components → membership `mem(domain, ph, para,
    * cluster_id)`), shared by the q313/q314 oracles — ONE definition,
    * interpolated from [[FuzzyOp]], so an operating-point change cannot
    * drift between them or from the engine lambdas. Callers prefix
    * `WITH RECURSIVE ` and append their rollup. */
  private val fuzzyCteSql =
    (s"""$urlCteSql,
        |""" + paraCteSqlOf(FuzzyOp.grain) + s""",
        |pd AS (SELECT p.doc_id, p.para_idx, p.para, p.n_tok, c.domain
        |  FROM paras p JOIN c USING (doc_id)),
        |dp AS (SELECT domain, md5(para) AS ph, min(para) AS para
        |  FROM pd GROUP BY 1, 2),
        |sh AS (SELECT DISTINCT domain, ph, w.s
        |  FROM (SELECT domain, ph, string_split(para, ' ') AS toks
        |        FROM dp), unnest(toks) w(s)),
        |hs AS (SELECT domain, ph,
        |    ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM sh),
        |co AS (SELECT j.j,
        |    2 * ('0x' || substr(md5('mh:a:' || j.j), 1, 7))::BIGINT + 1 AS a,
        |    ('0x' || substr(md5('mh:b:' || j.j), 1, 15))::BIGINT AS b
        |  FROM generate_series(0, ${FuzzyOp.numHashes - 1}) j(j)),
        |mins AS (SELECT domain, ph, j,
        |    min((a::HUGEINT * h + b) % 18446744073709551616) AS m
        |  FROM hs CROSS JOIN co GROUP BY 1, 2, 3),
        |bk AS (SELECT domain, ph, j // ${FuzzyOp.rowsPerBand} AS band,
        |    md5(string_agg(m::VARCHAR, ',' ORDER BY j)) AS key
        |  FROM mins GROUP BY domain, ph, j // ${FuzzyOp.rowsPerBand}),
        |sl AS (SELECT domain, ph, list(s) AS l FROM sh GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.domain, a.ph AS ph_a, b.ph AS ph_b
        |  FROM bk a JOIN bk b ON a.domain = b.domain AND a.band = b.band
        |    AND a.key = b.key AND a.ph < b.ph),
        |ver AS (SELECT cd.domain, ph_a, ph_b FROM cand cd
        |  JOIN sl sa ON sa.domain = cd.domain AND sa.ph = cd.ph_a
        |  JOIN sl sb ON sb.domain = cd.domain AND sb.ph = cd.ph_b
        |  WHERE ${FuzzyOp.jacDen} * len(list_intersect(sa.l, sb.l)) >=
        |        ${FuzzyOp.jacNum} * len(list_distinct(list_concat(sa.l, sb.l)))),
        |edges AS (SELECT domain || '|' || ph_a AS src,
        |    domain || '|' || ph_b AS dst FROM ver
        |  UNION SELECT domain || '|' || ph_b, domain || '|' || ph_a FROM ver),
        |reach(id, r) AS (SELECT src, src FROM edges
        |  UNION SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.id),
        |cc AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
        |mem AS (SELECT dp.domain, dp.ph, dp.para, cc.cluster_id
        |  FROM dp JOIN cc ON cc.id = dp.domain || '|' || dp.ph)""").stripMargin

  /** The q314/q316 qualification CTEs over [[fuzzyCteSql]]'s `mem`/`pd`:
    * qualifying fuzzy clusters (`qual`: >= minDocs distinct-doc reach AND
    * >= 2 variants — the `qualifiedFuzzyKeys` twin; the 2-variant floor
    * is structural, not an operating point: one variant is an EXACT
    * template), their member keys (`fk`) and the exact-template keys
    * (`ex`). ONE definition so the qualification thresholds cannot drift
    * between the two oracles. */
  private val fuzzyKeysCteSql =
    s"""qual AS (SELECT m.domain, m.cluster_id FROM mem m
      |  JOIN pd ON pd.domain = m.domain AND md5(pd.para) = m.ph
      |  GROUP BY 1, 2
      |  HAVING count(DISTINCT pd.doc_id) >= ${FuzzyOp.minDocs}
      |     AND count(DISTINCT m.ph) >= 2),
      |fk AS (SELECT DISTINCT m.domain, m.ph FROM mem m
      |  JOIN qual q USING (domain, cluster_id)),
      |ex AS (SELECT domain, md5(para) AS ph FROM pd
      |  GROUP BY 1, 2 HAVING count(DISTINCT doc_id) >= ${FuzzyOp.minDocs})""".stripMargin

  /** The GLOBAL near-dup clustering CTE chain (gdp → … → gmem;
    * g-prefixed twin of [[fuzzyCteSql]] with the domain removed from the
    * distinct frame, the bucket key and the CC vertex — the
    * fuzzy-SYNDICATION clustering core; the phenomenon is cross-domain,
    * so clusters must be too; same [[FuzzyOp]] operating point, same
    * md5-portable minhash replay, same exact integer-Jaccard verify)
    * parameterized by its occurrence frame (any frame with a `para`
    * column) — [[fuzzySyndCteSql]] instantiates it over the full corpus
    * (`pd`); the q328 release-pipeline oracle instantiates it over the
    * CAPPED population (`px`). ONE definition of the md5-portable
    * minhash replay so the operating point cannot drift between the
    * standalone fuzzy-syndication oracles and the composed pipeline. */
  private def globalFuzzyCcCteSqlOf(occFrame: String) =
    (s"""gdp AS (SELECT md5(para) AS ph, min(para) AS para
        |  FROM $occFrame GROUP BY 1),""").stripMargin + "\n" +
    globalFuzzyCcTailSql

  /** [[globalFuzzyCcCteSqlOf]] instantiated over the full corpus: url
    * assembly → grain-[[FuzzyOp]] paragraphs → occurrence frame `pd` →
    * global clustering ending at `gmem(ph, para, cluster_id)` — the
    * q325/q326 oracle base. Callers prefix `WITH RECURSIVE ` and append
    * their rollup. */
  private val fuzzySyndCteSql =
    (s"""$urlCteSql,
        |""" + paraCteSqlOf(FuzzyOp.grain) + s""",
        |pd AS (SELECT p.doc_id, p.para_idx, p.para, p.n_tok, c.domain
        |  FROM paras p JOIN c USING (doc_id)),
        |""").stripMargin + globalFuzzyCcCteSqlOf("pd")

  /** The fuzzy keep-origin drop over the occurrence frame `from` and
    * [[globalFuzzyCcCteSqlOf]]'s `gmem`: occurrences with their cluster
    * (`gocc`), first-occurrence domain per cluster (`gatt`), qualifying
    * clusters (`gq`: >= 3 domains, >= 2 variants) and the occurrences
    * dropped outside their origin domain `gdrop(doc_id, para_idx)` —
    * shared by q326 (full corpus) and q328 (capped population). */
  private def fuzzyDropCteSqlOf(from: String) =
    s"""gocc AS (SELECT $from.doc_id, $from.domain, $from.para_idx,
       |    m.ph, m.cluster_id
       |  FROM $from JOIN gmem m ON m.ph = md5($from.para)),
       |gatt AS (SELECT *, first_value(domain) OVER (
       |    PARTITION BY cluster_id ORDER BY doc_id, para_idx) AS fd
       |  FROM gocc),
       |gq AS (SELECT cluster_id FROM gatt GROUP BY 1
       |  HAVING count(DISTINCT domain) >= 3
       |     AND count(DISTINCT ph) >= 2),
       |gdrop AS (SELECT doc_id, para_idx FROM gatt
       |  JOIN gq USING (cluster_id) WHERE fd <> domain)""".stripMargin

  /** The shared md5-portable minhash coefficient table (`mco`) — include
    * EXACTLY ONCE alongside any number of [[minhashCtesOf]] instances. */
  private lazy val minhashCoefCteSql =
    s"""mco AS (SELECT j.j,
       |    2 * ('0x' || substr(md5('mh:a:' || j.j), 1, 7))::BIGINT + 1 AS a,
       |    ('0x' || substr(md5('mh:b:' || j.j), 1, 15))::BIGINT AS b
       |  FROM generate_series(0, ${FuzzyOp.numHashes - 1}) j(j))""".stripMargin

  /** The md5-portable minhash CTE chain over a `(ph, para)` variant
    * frame `dp`, prefix-parameterized so ONE definition of the hash math
    * serves the global CC chain (prefix "g") and the q330 incremental
    * corpus/batch sides (prefixes "i"/"b") — the single-definition
    * defense for the [[FuzzyOp]] operating point. Produces `{p}sh`
    * (distinct unigrams), `{p}bk` (band keys) and `{p}sl` (shingle
    * lists for the exact integer-Jaccard verify). */
  private def minhashCtesOf(p: String, dp: String) =
    s"""${p}sh AS (SELECT DISTINCT ph, w.s
       |  FROM (SELECT ph, string_split(para, ' ') AS toks FROM $dp),
       |    unnest(toks) w(s)),
       |${p}hs AS (SELECT ph, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM ${p}sh),
       |${p}mins AS (SELECT ph, j,
       |    min((a::HUGEINT * h + b) % 18446744073709551616) AS m
       |  FROM ${p}hs CROSS JOIN mco GROUP BY 1, 2),
       |${p}bk AS (SELECT ph, j // ${FuzzyOp.rowsPerBand} AS band,
       |    md5(string_agg(m::VARCHAR, ',' ORDER BY j)) AS key
       |  FROM ${p}mins GROUP BY ph, j // ${FuzzyOp.rowsPerBand}),
       |${p}sl AS (SELECT ph, list(s) AS l FROM ${p}sh GROUP BY 1)""".stripMargin

  private lazy val globalFuzzyCcTailSql =
    (minhashCoefCteSql + ",\n" + minhashCtesOf("g", "gdp") + ",\n" +
     s"""gcand AS (SELECT DISTINCT a.ph AS ph_a, b.ph AS ph_b
        |  FROM gbk a JOIN gbk b
        |    ON a.band = b.band AND a.key = b.key AND a.ph < b.ph),
        |gver AS (SELECT ph_a, ph_b FROM gcand cd
        |  JOIN gsl sa ON sa.ph = cd.ph_a
        |  JOIN gsl sb ON sb.ph = cd.ph_b
        |  WHERE ${FuzzyOp.jacDen} * len(list_intersect(sa.l, sb.l)) >=
        |        ${FuzzyOp.jacNum} * len(list_distinct(list_concat(sa.l, sb.l)))),
        |gedges AS (SELECT ph_a AS src, ph_b AS dst FROM gver
        |  UNION SELECT ph_b, ph_a FROM gver),
        |greach(id, r) AS (SELECT src, src FROM gedges
        |  UNION SELECT e.src, r.r FROM gedges e JOIN greach r ON e.dst = r.id),
        |gcc AS (SELECT id, min(r) AS cluster_id FROM greach GROUP BY id),
        |gmem AS (SELECT gdp.ph, gdp.para, gcc.cluster_id
        |  FROM gdp JOIN gcc ON gcc.id = gdp.ph)""").stripMargin

  /** The exact-Jaccard near-dup pair CTE (t + p) shared by every oracle
    * that replays the memoized q54/q87 pair list (q87/q254/q255/q282/
    * q283/q303/q305/q306/q307 and the [[cleanedReleaseSql]] pipelines) —
    * ONE definition so a threshold or blocking change cannot drift
    * between oracles and the Spark pair generator. */
  private val jaccPairCteSql =
    """t AS (SELECT doc_id, lang,
      |    list_distinct(string_split_regex(trim(text), '\s+')) AS toks,
      |    length(text) // 100 AS lenb
      |  FROM documents),
      |p AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM t a JOIN t b
      |    ON a.lang = b.lang AND abs(a.lenb - b.lenb) <= 1 AND a.doc_id < b.doc_id
      |  WHERE len(list_intersect(a.toks, b.toks))::DOUBLE /
      |    (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8)""".stripMargin

  /** The syndication-weighted cap chain over `pdx`/`c`: exact
    * cross-domain qualification (`q1`, >= 3 domains) → first-occurrence
    * attribution (`kq`) → per-domain copied-in share (`sy`) → per-domain
    * budget max(floor, base − unit at >= 700 bp, − 2·unit at >= 1000 bp)
    * (`caps`) → canonical-URL keepers ranked per domain (`kc`). q323
    * reports it at the cap-binding test point (3, 1, 1); [[cappedCteSql]]
    * keeps `rk <= cap` at the release budget. */
  private def capCteSqlOf(base: Int, unit: Int, floor: Int) =
    s"""q1 AS (SELECT md5(para) AS ph FROM pdx
       |  GROUP BY 1 HAVING count(DISTINCT domain) >= 3),
       |kq AS (SELECT pdx.*, first_value(domain) OVER (
       |    PARTITION BY md5(para) ORDER BY doc_id, para_idx) AS fd,
       |    (md5(para) IN (SELECT ph FROM q1)) AS isq
       |  FROM pdx),
       |sy AS (SELECT domain,
       |    CAST(floor(sum(CASE WHEN isq AND fd <> domain THEN n_tok
       |      ELSE 0 END) * 10000.0 / sum(n_tok)) AS BIGINT) AS synd_in_bp
       |  FROM kq GROUP BY 1),
       |caps AS (SELECT domain, greatest($floor, $base -
       |    CASE WHEN synd_in_bp >= 1000 THEN ${2 * unit}
       |         WHEN synd_in_bp >= 700 THEN $unit ELSE 0 END) AS cap
       |  FROM sy),
       |d AS (SELECT canonical, domain, min(doc_id) AS keeper_id
       |  FROM c GROUP BY 1, 2),
       |kc AS (SELECT domain, keeper_id, row_number() OVER (
       |    PARTITION BY domain ORDER BY keeper_id) AS rk FROM d)""".stripMargin

  /** The q324/q328 capped population — the [[relcapsKeptIds]] twin:
    * [[capCteSqlOf]] at the release budget (base 30, unit 10, floor 5,
    * computed over the FULL population), its keepers `kept(doc_id)` and
    * their paragraphs `px`. */
  private val cappedCteSql =
    capCteSqlOf(30, 10, 5) + """,
      |kept AS (SELECT keeper_id AS doc_id FROM kc
      |  JOIN caps USING (domain) WHERE rk <= cap),
      |px AS (SELECT pdx.* FROM pdx JOIN kept USING (doc_id))""".stripMargin

  /** Within-domain templates over the paragraph frame `from`: hashes
    * shared by >= 3 documents of one domain (`tm(domain, ph)`, dropped
    * everywhere — the q312 rule every cleaning core starts with). */
  private def templateCteSqlOf(from: String) =
    s"""tm AS (SELECT domain, md5(para) AS ph FROM $from
       |  GROUP BY 1, 2 HAVING count(DISTINCT doc_id) >= 3)""".stripMargin

  /** Domain keep/drop over a per-document frame `stats(doc_id, domain,
    * tok)`: `keptd` holds the domains where under 4000 bp of documents
    * have `tok` < 40 — the q307 raw-token rule and the
    * [[cleanedKeptDomains]] twin. */
  private def keptDomainsCteSqlOf(stats: String, tok: String) =
    s"""roll AS (SELECT domain, count(*) AS n_docs,
       |    sum(CASE WHEN $tok < 40 THEN 1 ELSE 0 END) AS n_low
       |  FROM $stats GROUP BY 1),
       |keptd AS (SELECT domain FROM roll
       |  WHERE CAST(floor(n_low * 10000.0 / n_docs) AS BIGINT) < 4000)""".stripMargin

  /** The cleaned keep/drop after a strip: keep-first over the surviving
    * paragraphs `survivors` (`k`), clean tokens per document (`cd`),
    * every document of the paragraph frame `pop` with its clean tokens
    * (`cda`; 0 when every paragraph was stripped), then
    * [[keptDomainsCteSqlOf]] — the `cleanTokenStats*` +
    * [[cleanedKeptDomains]] twin (q317/q322/q324/q328). */
  private def cleanKeepCteSqlOf(survivors: String, pop: String) =
    s"""k AS (SELECT *, row_number() OVER (
       |    PARTITION BY md5(para) ORDER BY doc_id, para_idx) AS rk
       |  FROM $survivors),
       |cd AS (SELECT doc_id, domain,
       |    sum(CASE WHEN rk = 1 THEN n_tok ELSE 0 END) AS clean_tok
       |  FROM k GROUP BY 1, 2),
       |ad AS (SELECT DISTINCT doc_id, domain FROM $pop),
       |cda AS (SELECT a.doc_id, a.domain,
       |    coalesce(cd.clean_tok, 0) AS clean_tok
       |  FROM ad a LEFT JOIN cd USING (doc_id, domain)),
       |""".stripMargin + keptDomainsCteSqlOf("cda", "clean_tok")

  /** The near-dup cluster CTEs over a pair frame `pairs(id_a, id_b)`:
    * both-direction `edges`, the recursive transitive closure `reach`
    * and `cc(id, cluster_id)` (the min reachable id) — the q87 closure
    * every cluster oracle replays. Callers prefix `WITH RECURSIVE `. */
  private def ccCteSqlOf(pairs: String) =
    s"""edges AS (SELECT id_a AS src, id_b AS dst FROM $pairs
       |  UNION SELECT id_b, id_a FROM $pairs),
       |reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.id),
       |cc AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)""".stripMargin

  /** Every clustered document with its cluster id — the q87 oracle, and
    * q255's from-scratch recompute that the incremental path must equal. */
  private val clusterIdsSql =
    "WITH RECURSIVE " + jaccPairCteSql + ",\n" + ccCteSqlOf("p") +
      "\nSELECT id AS doc_id, cluster_id FROM cc"

  /** [[ccCteSqlOf]] plus cluster sizes (`sz`) and every document of the
    * population `pop(doc_id)` with its cluster size `w(doc_id, csz)` (1
    * for singletons) — the [[clusterWeights]] twin (all documents for
    * q303/q307/q317/q322, the capped keepers for q324/q328). */
  private def clusterWeightCteSqlOf(pairs: String, pop: String) =
    ccCteSqlOf(pairs) + s""",
       |sz AS (SELECT cluster_id, count(*) AS csz FROM cc GROUP BY 1),
       |w AS (SELECT x.doc_id, coalesce(s.csz, 1) AS csz
       |  FROM $pop x LEFT JOIN
       |    (SELECT cc.id AS doc_id, sz.csz FROM cc JOIN sz USING (cluster_id)) s
       |    USING (doc_id))""".stripMargin

  /** The 80/10/10 train/val/test label of the VARCHAR expression `key`
    * (first 8 md5 hex digits of `key || ':split'`, mod 100) — the
    * `TextAnalysis.hashSplit` twin. */
  private def splitCaseSql(key: String) = {
    val b = s"('0x' || substr(md5($key || ':split'), 1, 8))::BIGINT % 100"
    s"CASE WHEN $b < 80 THEN 'train' WHEN $b < 90 THEN 'val' ELSE 'test' END"
  }

  /** The pipeline report over a per-document frame `stats(doc_id,
    * domain, tok)`, `keptd`, `w` and `cc`: documents of kept domains →
    * split by domain, or by near-dup cluster (`cl`, min id; singletons
    * their own) → per split the distinct keys, documents, effective
    * documents (Σ ⌊10000 / csz⌋), Σ `tok` as `tokName` and each `extra`
    * per-document expression (→ output name, drawn from `join`) — the
    * [[splitMasses]] twin. */
  private def releaseReportSql(stats: String, tok: String, tokName: String,
      byCluster: Boolean, join: String = "",
      extra: Seq[(String, String)] = Nil) = {
    val (key, nKeys) = if (byCluster) ("cl", "n_clusters") else ("domain", "n_domains")
    val cols = (if (byCluster) Seq(s"coalesce(cc.cluster_id, $stats.doc_id) AS cl")
      else Nil) ++ extra.map { case (e, n) => s"$e AS $n" }
    val ccJoin = if (byCluster) s"\n  LEFT JOIN cc ON cc.id = $stats.doc_id" else ""
    s"""kk AS (SELECT $stats.doc_id, $stats.domain, $stats.$tok, w.csz${cols.map(", " + _).mkString}
       |  FROM $stats JOIN w USING (doc_id)$ccJoin$join
       |  WHERE $stats.domain IN (SELECT domain FROM keptd)),
       |lab AS (SELECT *, ${splitCaseSql(if (byCluster) "cl::VARCHAR" else "domain")} AS split
       |  FROM kk)
       |SELECT split, count(DISTINCT $key)::BIGINT AS $nKeys,
       |  count(*)::BIGINT AS n_docs,
       |  sum(CAST(floor(10000.0 / csz) AS BIGINT))::BIGINT AS eff_docs_x10000,
       |  sum($tok)::BIGINT AS $tokName${extra.map { case (_, n) => s",\n  sum($n)::BIGINT AS $n" }.mkString}
       |FROM lab GROUP BY 1""".stripMargin
  }

  /** The q317/q322 cleaning core over `pdx` — the `cleanTokenStats`
    * twin: template drop-all (`tm` → survivors `np`), then
    * [[cleanKeepCteSqlOf]]. */
  private val templateCoreSql =
    templateCteSqlOf("pdx") + """,
      |np AS (SELECT pdx.* FROM pdx LEFT JOIN tm
      |  ON tm.domain = pdx.domain AND tm.ph = md5(pdx.para)
      |  WHERE tm.ph IS NULL),
      |""".stripMargin + cleanKeepCteSqlOf("np", "pdx")

  /** The q324 (`fuzzy` false) and q328 cleaning cores over the capped
    * paragraphs `px` — the `cleanTokenStatsV2`/`V3` twins. Each paragraph
    * gets one class, by precedence: template 0, fuzzy syndication -2
    * (q328 only: keep-origin over qualifying GLOBAL near-dup clusters of
    * the capped population, [[fuzzyDropCteSqlOf]]), exact syndication
    * -1 (keep-origin over >= 3 domains), kept 1. Keep-first runs over the
    * kept class only; `sd` counts each document's syndication drops. */
  private def syndCoreSqlOf(fuzzy: Boolean) =
    (if (!fuzzy) "" else globalFuzzyCcCteSqlOf("px") + ",\n" +
      fuzzyDropCteSqlOf("px") + ",\n") + templateCteSqlOf("px") + s""",
      |q2 AS (SELECT md5(para) AS ph FROM px
      |  GROUP BY 1 HAVING count(DISTINCT domain) >= 3),
      |fx AS (SELECT px.*, first_value(domain) OVER (
      |    PARTITION BY md5(para) ORDER BY doc_id, para_idx) AS fd
      |  FROM px),
      |mk AS (SELECT fx.*, CASE WHEN tm.ph IS NOT NULL THEN 0${
        if (fuzzy) "\n    WHEN gd.para_idx IS NOT NULL THEN -2" else ""}
      |    WHEN md5(fx.para) IN (SELECT ph FROM q2)
      |      AND fx.fd <> fx.domain THEN -1
      |    ELSE 1 END AS cls
      |  FROM fx LEFT JOIN tm
      |    ON tm.domain = fx.domain AND tm.ph = md5(fx.para)${
        if (fuzzy) "\n  LEFT JOIN gdrop gd\n    ON gd.doc_id = fx.doc_id AND gd.para_idx = fx.para_idx" else ""}),
      |sd AS (SELECT doc_id,
      |    sum(CASE WHEN cls = -1 THEN 1 ELSE 0 END) AS n_synd${
        if (fuzzy) ",\n    sum(CASE WHEN cls = -2 THEN 1 ELSE 0 END) AS n_fz" else ""}
      |  FROM mk GROUP BY 1),
      |""".stripMargin + cleanKeepCteSqlOf("mk WHERE cls = 1", "px")

  /** The [[cleanedRelease]] twin: URL/paragraph prefix → (`capped`: the
    * [[cappedCteSql]] population) → the cleaning `core` ending at
    * `cda`/`keptd` → near-dup pairs (`capped`: both endpoints kept, `pk`)
    * → [[clusterWeightCteSqlOf]] → [[releaseReportSql]] with
    * `clean_tokens`, `join` and `extra`. */
  private def cleanedReleaseSql(capped: Boolean, byCluster: Boolean,
      core: String, join: String = "", extra: Seq[(String, String)] = Nil) =
    "WITH RECURSIVE " + urlParaCteSql + ",\n" +
      (if (capped) cappedCteSql + ",\n" else "") + core + ",\n" + jaccPairCteSql +
      (if (!capped) "" else """,
        |pk AS (SELECT id_a, id_b FROM p
        |  JOIN kept ka ON ka.doc_id = p.id_a
        |  JOIN kept kb ON kb.doc_id = p.id_b)""".stripMargin) + ",\n" +
      clusterWeightCteSqlOf(if (capped) "pk" else "p", if (capped) "kept" else "documents") +
      ",\n" + releaseReportSql("cda", "clean_tok", "clean_tokens", byCluster, join, extra)

  val all: Seq[GraftQuery] = Seq(

    // ---- per-document token statistics
    GraftQuery("q50_text_stats",
      Some("""SELECT doc_id, length(text) AS n_chars,
             |  len(string_split_regex(trim(text), '\s+')) AS n_tokens,
             |  len(list_distinct(string_split_regex(trim(text), '\s+'))) AS n_uniq_tokens
             |FROM documents""".stripMargin),
      (s, dir) => t(s, dir, "documents").select(
        col("doc_id"),
        charLen(col("text")).as("n_chars"),
        tokenCount(col("text")).as("n_tokens"),
        size(array_distinct(tokens(col("text")))).as("n_uniq_tokens"))),

    // ---- corpus quality profile by language
    GraftQuery("q51_quality_by_lang",
      Some("""SELECT lang, count(*) AS n,
             |  round(avg(len(string_split_regex(trim(text), '\s+'))), 4) AS avg_tokens,
             |  round(avg(length(text)), 4) AS avg_chars
             |FROM documents GROUP BY lang""".stripMargin),
      (s, dir) => t(s, dir, "documents").groupBy("lang").agg(
        count(lit(1)).as("n"),
        round(avg(tokenCount(col("text"))), 4).as("avg_tokens"),
        round(avg(charLen(col("text"))), 4).as("avg_chars"))),

    // ---- language ID (stopword-profile heuristic; accuracy asserted in
    //      PipelineSpec against the ground-truth lang column)
    GraftQuery("q52_langid", None,
      (s, dir) => t(s, dir, "documents")
        .select(col("lang"), langId(col("text")).as("predicted"))
        .groupBy("lang", "predicted").agg(count(lit(1)).as("n"))),

    // ---- exact dedup
    GraftQuery("q53_dedup_exact",
      Some("""SELECT count(*) AS n_docs, count(DISTINCT text) AS n_unique
             |FROM documents""".stripMargin),
      (s, dir) => {
        val d = Dedup.exactKeepFirst(t(s, dir, "documents"), "doc_id", "text")
        d.agg(sum("n_copies").cast("long").as("n_docs"),
              count(lit(1)).as("n_unique"))
      }),

    // ---- benchmark decontamination: docs sharing any 8-gram with the
    //      (deterministic doc_id%7) benchmark split, broadcast semi-join —
    //      the corpus side is never shuffled
    GraftQuery("q80_decontaminate",
      Some("""WITH tok AS (SELECT doc_id,
             |    string_split_regex(trim(lower(text)), '\s+') AS ts
             |  FROM documents),
             |grams AS (
             |  SELECT doc_id,
             |    CASE WHEN len(ts) >= 8 THEN array_to_string(ts[g.i:g.i+7], ' ')
             |         ELSE array_to_string(ts, ' ') END AS gram
             |  FROM tok CROSS JOIN LATERAL
             |    (SELECT unnest(range(1, greatest(len(ts)-7, 1)+1)) AS i) g),
             |bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 7 = 0)
             |SELECT doc_id, count(DISTINCT gram) AS n_hits
             |FROM grams
             |WHERE doc_id % 7 <> 0 AND gram IN (SELECT gram FROM bench)
             |GROUP BY doc_id""".stripMargin),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Decontaminate.contaminated(
          docs.filter(col("doc_id") % 7 =!= 0), "doc_id", "text",
          docs.filter(col("doc_id") % 7 === 0), "text", n = 8)
      }),

    // ---- Gopher-style repetition quality signals: top/duplicate 2-gram
    //      character fractions, one hash-map pass per doc (no shuffle)
    GraftQuery("q81_repetition",
      Some("""WITH tok AS (SELECT doc_id, length(text) AS n_chars,
             |    string_split_regex(trim(text), '\s+') AS ts FROM documents),
             |grams AS (
             |  SELECT doc_id, n_chars,
             |    CASE WHEN len(ts) >= 2 THEN array_to_string(ts[g.i:g.i+1], ' ')
             |         ELSE array_to_string(ts, ' ') END AS gram
             |  FROM tok CROSS JOIN LATERAL
             |    (SELECT unnest(range(1, greatest(len(ts)-1, 1)+1)) AS i) g),
             |cnt AS (SELECT doc_id, any_value(n_chars) AS n_chars, gram,
             |    count(*) AS c, length(gram) AS gl
             |  FROM grams GROUP BY doc_id, gram)
             |SELECT doc_id,
             |  round(max(c * gl)::DOUBLE / any_value(n_chars), 4) AS top_gram_frac,
             |  round(least(coalesce(sum(CASE WHEN c > 1 THEN c * gl END), 0)::DOUBLE
             |    / any_value(n_chars), 1.0), 4) AS dup_gram_frac
             |FROM cnt GROUP BY doc_id""".stripMargin),
      (s, dir) => {
        val rep = repetitionStats(col("text"), 2)
        t(s, dir, "documents").select(
          col("doc_id"),
          round(rep.getField("top_chars") / charLen(col("text")), 4)
            .as("top_gram_frac"),
          round(least(rep.getField("dup_chars") / charLen(col("text")),
            lit(1.0)), 4).as("dup_gram_frac"))
      }),

    // ---- deterministic content-hash stratified sampling: md5-bucket per
    //      doc, per-language keep rates — reproducible across engines/runs
    GraftQuery("q82_stratified_sample",
      Some("""SELECT doc_id, lang FROM documents
             |WHERE ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 <
             |      CASE WHEN lang = 'en' THEN 50 ELSE 20 END""".stripMargin),
      (s, dir) => t(s, dir, "documents")
        .filter(sampleBucket(col("text"), 100) <
          when(col("lang") === "en", 50).otherwise(20))
        .select(col("doc_id"), col("lang"))),

    // ---- per-source quota: cap each source at 30 docs by deterministic
    //      content-hash priority (C4-style anti-domination)
    GraftQuery("q92_source_cap",
      Some("""SELECT doc_id, source FROM (
             |  SELECT doc_id, source, row_number() OVER (
             |    PARTITION BY source ORDER BY md5(text), doc_id) AS rk
             |  FROM documents) WHERE rk <= 30""".stripMargin),
      (s, dir) => capPerKey(t(s, dir, "documents"), "source", "doc_id", "text", 30)
        .select(col("doc_id"), col("source"))),

    // ---- cross-document repeated passages (Lee et al. dedup signal):
    //      per-doc fraction of 16-gram positions recurring in other docs
    GraftQuery("q96_repeated_passages",
      Some("""WITH t AS (SELECT doc_id,
             |    string_split_regex(trim(lower(text)), '\s+') AS toks
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, array_to_string(toks[u.i:u.i+15], ' ') AS gram
             |  FROM t, unnest(generate_series(1, len(toks) - 15)) AS u(i)
             |  WHERE len(toks) >= 16
             |  UNION ALL
             |  SELECT doc_id, array_to_string(toks, ' ') FROM t WHERE len(toks) < 16),
             |md AS (SELECT gram, 1 AS rep FROM (
             |  SELECT gram, count(DISTINCT doc_id) AS nd FROM g GROUP BY gram)
             |  WHERE nd > 1)
             |SELECT g.doc_id, count(*) AS n_grams,
             |  sum(CASE WHEN md.rep IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_repeated,
             |  CAST(floor(sum(CASE WHEN md.rep IS NOT NULL THEN 1 ELSE 0 END)
             |    * 10000.0 / count(*)) AS BIGINT) AS repeated_bp
             |FROM g LEFT JOIN md USING (gram) GROUP BY g.doc_id""".stripMargin),
      (s, dir) => Decontaminate.crossDocRepeats(
          t(s, dir, "documents"), "doc_id", "text", n = 16)
        .withColumn("n_repeated", col("n_repeated").cast("long"))
        // basis-point integer (the q239 dup_bp convention) instead of a
        // 4-dp double quotient: integer hash equality can't drift on
        // rounding boundaries, and long matches the oracle's ::BIGINT
        .withColumn("repeated_bp",
          floor(col("n_repeated") * 10000.0 / col("n_grams")).cast("long"))
        .drop("repeated_frac")),

    // ---- BPE tokenizer training: the learned merge table over the corpus
    //      word histogram (deterministic — ties break lexicographically);
    //      encode-side is spec-verified, merges aren't SQL-expressible
    GraftQuery("q95_bpe_vocab", None,
      (s, dir) => {
        import s.implicits._
        graft.pipeline.Bpe.train(t(s, dir, "documents"), "text", numMerges = 50)
          .zipWithIndex.map { case ((a, b), r) => (r, a, b) }
          .toDF("rank", "left", "right")
      }),

    // ---- corpus-trained bigram LM quality score (CCNet-style perplexity
    //      filter); oracle re-trains the same add-1 model in SQL
    GraftQuery("q94_lm_quality",
      Some("""WITH t AS (SELECT doc_id,
             |    string_split_regex(trim(lower(text)), '\s+') AS toks
             |  FROM documents),
             |v AS (SELECT count(DISTINCT u.t)::DOUBLE AS v
             |  FROM t, unnest(t.toks) AS u(t)),
             |bg AS (SELECT doc_id, toks[g.i] AS a, toks[g.i + 1] AS b
             |  FROM t, unnest(generate_series(1, len(toks) - 1)) AS g(i)),
             |cab AS (SELECT a, b, count(*)::DOUBLE AS cab FROM bg GROUP BY a, b),
             |ca AS (SELECT a, sum(cab) AS ca FROM cab GROUP BY a)
             |SELECT bg.doc_id, round(avg(ln((cab.cab + 1.0) / (ca.ca + v.v))), 4) AS lm_logprob
             |FROM bg JOIN cab USING (a, b) JOIN ca USING (a) CROSS JOIN v
             |GROUP BY bg.doc_id""".stripMargin),
      (s, dir) => LanguageModel.bigramLogProb(t(s, dir, "documents"), "doc_id", "text")
        .withColumn("lm_logprob", round(col("lm_logprob"), 4))),

    // ---- token-budget selection: best docs by lexical-diversity score
    //      until 20k tokens; oracle replays the global ordered cumsum the
    //      two-phase scan computes distributively
    GraftQuery("q155_budget_select",
      // score is an INTEGER basis-point diversity (×10⁴, q145 convention):
      // the raw quotient drives the global order, so a single cross-engine
      // x.xxxx5 rounding flip would reshuffle every cumulative sum after
      // it — round-to-integer of the bit-identical quotient can't flip.
      // cum_tokens casts off DuckDB's HUGEINT window sum (q119 note).
      Some("""WITH t AS (SELECT doc_id,
             |    CAST(round(len(list_distinct(string_split_regex(trim(text), '\s+')))::DOUBLE
             |      / len(string_split_regex(trim(text), '\s+')) * 10000.0, 0) AS BIGINT) AS score,
             |    len(string_split_regex(trim(text), '\s+')) AS n_tokens
             |  FROM documents),
             |c AS (SELECT doc_id, score, n_tokens,
             |    sum(n_tokens) OVER (ORDER BY score DESC, doc_id) AS cum_tokens
             |  FROM t)
             |SELECT doc_id, score, n_tokens, cum_tokens::BIGINT AS cum_tokens
             |FROM c WHERE cum_tokens <= 20000""".stripMargin),
      (s, dir) => graft.pipeline.Packing.takeUntilBudget(
        t(s, dir, "documents")
          .withColumn("score", round(
            size(array_distinct(tokens(col("text")))).cast("double") /
              tokenCount(col("text")) * 10000.0, 0).cast("long")),
        "doc_id", "text", "score", budget = 20000L)),

    // ---- BERT MLM masking (Devlin et al. 2018 §3.1): deterministic
    //      80/10/10 draw; the oracle replays selection, action, and the
    //      doc-local random replacement
    GraftQuery("q154_mlm_mask",
      Some("""WITH t AS (SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS toks FROM documents),
             |tok AS (SELECT doc_id, toks, toks[g.i] AS tok, g.i - 1 AS pos,
             |    len(toks) AS n
             |  FROM t, unnest(generate_series(1, len(toks))) AS g(i)),
             |m AS (SELECT doc_id, pos, tok, n, toks,
             |    ('0x' || substr(md5(doc_id::VARCHAR || ':' || pos::VARCHAR), 1, 8))::BIGINT % 100 < 15 AS sel,
             |    ('0x' || substr(md5(doc_id::VARCHAR || ':' || pos::VARCHAR || ':act'), 1, 8))::BIGINT % 10 AS act
             |  FROM tok),
             |p AS (SELECT doc_id, pos,
             |    CASE WHEN NOT sel THEN tok
             |         WHEN act < 8 THEN '[MASK]'
             |         WHEN act = 8 THEN toks[
             |           (('0x' || substr(md5(doc_id::VARCHAR || ':' || pos::VARCHAR || ':rnd'), 1, 8))::BIGINT % n) + 1]
             |         ELSE tok END AS piece,
             |    CASE WHEN sel THEN pos || '=' || tok END AS lab
             |  FROM m)
             |SELECT doc_id,
             |  string_agg(piece, ' ' ORDER BY pos) AS masked,
             |  coalesce(string_agg(lab, ' ' ORDER BY pos), '') AS labels,
             |  count(lab) AS n_masked
             |FROM p GROUP BY doc_id""".stripMargin),
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          mlmMask(col("text"), col("doc_id"), 15).as("mm"))
        .select(col("doc_id"), col("mm.masked").as("masked"),
          col("mm.labels").as("labels"),
          col("mm.n_masked").cast("long").as("n_masked"))),

    // ---- FIM fill-in-the-middle (Bavarian et al. 2022): PSM strings from
    //      md5-deterministic char cuts; DuckDB replays the same cuts
    GraftQuery("q153_fim_transform",
      Some("""WITH c AS (SELECT doc_id, text, length(text) AS len,
             |    (('0x' || substr(md5(doc_id::VARCHAR || ':a'), 1, 8))::BIGINT % 1000000)
             |      % greatest(length(text), 1) + 1 AS c1,
             |    (('0x' || substr(md5(doc_id::VARCHAR || ':b'), 1, 8))::BIGINT % 1000000)
             |      % greatest(length(text), 1) + 1 AS c2
             |  FROM documents),
             |s AS (SELECT doc_id, text, len,
             |    least(c1, c2) AS lo, greatest(c1, c2) AS hi FROM c)
             |SELECT doc_id,
             |  '<PRE>' || substr(text, 1, lo - 1) ||
             |  '<SUF>' || substr(text, hi + 1, len - hi) ||
             |  '<MID>' || substr(text, lo, hi - lo + 1) AS psm
             |FROM s""".stripMargin),
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          fimTransform(col("text"), col("doc_id")).as("psm"))),

    // ---- T5 span corruption (Raffel et al. 2020 §3.1.4): deterministic
    //      denoising pairs; the oracle replays the md5 mask, run grouping,
    //      sentinel numbering, and terminator with window functions
    GraftQuery("q152_t5_span_corrupt",
      Some("""WITH t AS (SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS toks FROM documents),
             |tok AS (SELECT doc_id, toks[g.i] AS tok, g.i - 1 AS pos
             |  FROM t, unnest(generate_series(1, len(toks))) AS g(i)),
             |m AS (SELECT doc_id, pos, tok,
             |    (('0x' || substr(md5(doc_id::VARCHAR || ':' || pos::VARCHAR), 1, 8))::BIGINT % 100) < 15 AS mk
             |  FROM tok),
             |r AS (SELECT doc_id, pos, tok, mk,
             |    CASE WHEN mk AND NOT coalesce(lag(mk) OVER w, false)
             |         THEN 1 ELSE 0 END AS rs
             |  FROM m WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
             |rr AS (SELECT *, sum(rs) OVER (PARTITION BY doc_id ORDER BY pos) AS runid
             |  FROM r),
             |inp AS (SELECT doc_id, string_agg(piece, ' ' ORDER BY pos) AS input
             |  FROM (SELECT doc_id, pos,
             |          CASE WHEN NOT mk THEN tok
             |               WHEN rs = 1 THEN '<extra_id_' || (runid - 1) || '>'
             |          END AS piece
             |        FROM rr)
             |  WHERE piece IS NOT NULL GROUP BY doc_id),
             |tg AS (SELECT doc_id,
             |    string_agg(CASE WHEN rs = 1
             |        THEN '<extra_id_' || (runid - 1) || '> ' || tok
             |        ELSE tok END, ' ' ORDER BY pos) AS body,
             |    max(runid) AS nspans
             |  FROM rr WHERE mk GROUP BY doc_id)
             |-- nspans descends from a window sum() (HUGEINT) — cast to
             |-- BIGINT for the driver's typed compare (q119 note)
             |SELECT i.doc_id, i.input,
             |  coalesce(tg.body || ' <extra_id_' || tg.nspans || '>', '') AS target,
             |  coalesce(tg.nspans, 0)::BIGINT AS n_spans
             |FROM inp i LEFT JOIN tg ON i.doc_id = tg.doc_id""".stripMargin),
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          spanCorrupt(col("text"), col("doc_id"), 15).as("sc"))
        .select(col("doc_id"), col("sc.input").as("input"),
          col("sc.target").as("target"),
          col("sc.n_spans").cast("long").as("n_spans"))),

    // ---- CCNet canonicalization → fingerprint: normalized-text dedup
    //      keys (full Unicode path unit-tested in PipelineSpec; the ASCII
    //      fixture projects to lowercase + digit-fold, which the oracle
    //      replays)
    GraftQuery("q140_normalized_fingerprint",
      Some("""SELECT md5(regexp_replace(lower(text), '[0-9]', '0', 'g')) AS fp,
             |  count(*) AS n, min(doc_id) AS keeper
             |FROM documents GROUP BY 1""".stripMargin),
      (s, dir) => t(s, dir, "documents")
        .groupBy(md5(TextAnalysis.normalizeText(col("text"))).as("fp"))
        .agg(count(lit(1)).as("n"), min("doc_id").as("keeper"))),

    // ---- character-entropy quality signal (Dolma-family gibberish /
    //      encoded-blob detector): one-pass native kernel, map-only; the
    //      oracle re-derives the distribution with unnest + group
    GraftQuery("q137_char_entropy",
      Some("""WITH c AS (
             |  SELECT doc_id, u.ch, count(*)::DOUBLE AS n
             |  FROM (SELECT doc_id, string_split(text, '') AS chs
             |        FROM documents WHERE length(text) > 0) t,
             |    unnest(t.chs) AS u(ch)
             |  GROUP BY doc_id, u.ch),
             |tot AS (SELECT doc_id, sum(n) AS tot FROM c GROUP BY doc_id)
             |SELECT c.doc_id, round(-sum((n / tot) * log2(n / tot)), 4) AS entropy_bits
             |FROM c JOIN tot USING (doc_id)
             |GROUP BY c.doc_id""".stripMargin),
      (s, dir) => t(s, dir, "documents")
        .filter(length(col("text")) > 0)
        .select(col("doc_id"),
          round(TextAnalysis.charEntropy(col("text")), 4).as("entropy_bits"))),

    // ---- CCNet head/middle/tail split (Wenzek et al. 2020 §4.4):
    //      per-language bigram LM scores cut at the language's ⅓/⅔
    //      quantiles — cutoff broadcast + map-only assign, no ntile sort;
    //      the oracle re-trains every per-language model and replays the
    //      same cutoff arithmetic
    GraftQuery("q136_ccnet_buckets",
      Some("""WITH t AS (SELECT doc_id, lang,
             |    string_split_regex(trim(lower(text)), '\s+') AS toks
             |  FROM documents),
             |v AS (SELECT lang, count(DISTINCT u.t)::DOUBLE AS v
             |  FROM t, unnest(t.toks) AS u(t) GROUP BY lang),
             |bg AS (SELECT doc_id, lang, toks[g.i] AS a, toks[g.i + 1] AS b
             |  FROM t, unnest(generate_series(1, len(toks) - 1)) AS g(i)),
             |cab AS (SELECT lang, a, b, count(*)::DOUBLE AS cab
             |  FROM bg GROUP BY lang, a, b),
             |ca AS (SELECT lang, a, sum(cab) AS ca FROM cab GROUP BY lang, a),
             |w AS (SELECT bg.doc_id, bg.lang,
             |    round(avg(ln((cab.cab + 1.0) / (ca.ca + v.v))), 4) AS s
             |  FROM bg JOIN cab USING (lang, a, b) JOIN ca USING (lang, a)
             |    JOIN v USING (lang)
             |  GROUP BY bg.doc_id, bg.lang),
             |c AS (SELECT lang, quantile_cont(s, 1.0/3) AS c13,
             |    quantile_cont(s, 2.0/3) AS c23 FROM w GROUP BY lang)
             |SELECT w.doc_id, w.lang, w.s AS lm_logprob,
             |  CASE WHEN s >= c23 THEN 'head'
             |       WHEN s >= c13 THEN 'middle' ELSE 'tail' END AS ccnet_bucket
             |FROM w JOIN c USING (lang)""".stripMargin),
      (s, dir) => graft.pipeline.LanguageModel.perplexityBuckets(
        t(s, dir, "documents"), "doc_id", "text", "lang")),

    // ---- BM25 query relevance: top-20 docs for a 3-term query; the
    //      oracle re-derives the full Okapi formula in SQL
    GraftQuery("q93_bm25_relevance",
      Some("""WITH t AS (SELECT doc_id,
             |    string_split_regex(trim(lower(text)), '\s+') AS toks
             |  FROM documents),
             |d AS (SELECT doc_id, toks, len(toks)::DOUBLE AS dl FROM t),
             |s AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl,
             |  sum(CASE WHEN list_contains(toks, 'hash') THEN 1 ELSE 0 END)::DOUBLE AS dfa,
             |  sum(CASE WHEN list_contains(toks, 'stream') THEN 1 ELSE 0 END)::DOUBLE AS dfb,
             |  sum(CASE WHEN list_contains(toks, 'window') THEN 1 ELSE 0 END)::DOUBLE AS dfc
             |  FROM d),
             |tf AS (SELECT doc_id, dl,
             |  len(list_filter(toks, x -> x = 'hash'))::DOUBLE AS tfa,
             |  len(list_filter(toks, x -> x = 'stream'))::DOUBLE AS tfb,
             |  len(list_filter(toks, x -> x = 'window'))::DOUBLE AS tfc
             |  FROM d),
             |scored AS (SELECT doc_id,
             |    ln((n - dfa + 0.5)/(dfa + 0.5) + 1) * (tfa*2.2)/(tfa + 1.2*(0.25 + 0.75*dl/avgdl))
             |  + ln((n - dfb + 0.5)/(dfb + 0.5) + 1) * (tfb*2.2)/(tfb + 1.2*(0.25 + 0.75*dl/avgdl))
             |  + ln((n - dfc + 0.5)/(dfc + 0.5) + 1) * (tfc*2.2)/(tfc + 1.2*(0.25 + 0.75*dl/avgdl))
             |    AS raw
             |  FROM tf CROSS JOIN s)
             |SELECT doc_id, round(raw, 4) AS score
             |FROM scored ORDER BY raw DESC, doc_id LIMIT 20""".stripMargin),
      (s, dir) => Relevance.bm25(
          t(s, dir, "documents"), "doc_id", "text", Seq("hash", "stream", "window"))
        .orderBy(col("score").desc, col("doc_id")).limit(20)
        .withColumn("score", round(col("score"), 4))),

    // ---- k-means corpus clustering (the IVF index's training pass exposed
    //      as an operator; label purity asserted in PipelineSpec)
    GraftQuery("q83_kmeans_clusters", None,
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val centroids = Ivf.train(emb, "vec_id", "embedding", nlist = 8, iters = 3)
        emb.withColumn("cluster", Ivf.assignColumn(col("embedding"), centroids))
          .groupBy("cluster")
          .agg(count(lit(1)).as("n"),
               countDistinct(col("label")).as("n_labels"))
      }),

    // ---- PII scrub: seed deterministic PII into the fixture text, then
    //      count + redact (emails / IPv4 / phone) — pure codegen'd regex
    GraftQuery("q84_pii_redact",
      Some("""WITH seeded AS (SELECT doc_id,
             |    text || ' contact user' || doc_id || '@example.com via 10.0.'
             |      || (doc_id % 256) || '.7 or 555-0123' AS t2
             |  FROM documents)
             |SELECT doc_id,
             |  len(regexp_extract_all(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
             |  len(regexp_extract_all(t2, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS n_ip,
             |  regexp_replace(regexp_replace(regexp_replace(t2,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |    '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
             |    '\b[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g') AS redacted
             |FROM seeded""".stripMargin),
      (s, dir) => {
        val seeded = t(s, dir, "documents").select(
          col("doc_id"),
          concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com via 10.0."), (col("doc_id") % 256).cast("string"),
            lit(".7 or 555-0123")).as("t2"))
        seeded.select(
          col("doc_id"),
          Pii.emailCount(col("t2")).cast("long").as("n_email"),
          Pii.ipv4Count(col("t2")).cast("long").as("n_ip"),
          Pii.redact(col("t2")).as("redacted"))
      }),

    // ---- exact token-set Jaccard near-dup pairs (blocked all-pairs)
    GraftQuery("q54_token_jaccard_pairs",
      Some("""WITH t AS (SELECT doc_id, lang,
             |    list_distinct(string_split_regex(trim(text), '\s+')) AS toks,
             |    length(text) // 100 AS lenb
             |  FROM documents)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  round(len(list_intersect(a.toks, b.toks))::DOUBLE /
             |    (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 4) AS jaccard
             |FROM t a JOIN t b
             |  ON a.lang = b.lang AND abs(a.lenb - b.lenb) <= 1 AND a.doc_id < b.doc_id
             |WHERE len(list_intersect(a.toks, b.toks))::DOUBLE /
             |    (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8""".stripMargin),
      (s, dir) => jaccardPairs(s, dir)),

    // ---- near-dup clustering: connected components over the q54 pair
    //      list (min-label propagation); oracle re-derives components via
    //      a recursive transitive-closure CTE over the same pairs
    GraftQuery("q87_near_dup_clusters",
      Some(clusterIdsSql),
      (s, dir) => Dedup.connectedComponents(jaccardPairs(s, dir))
        .select(col("id").as("doc_id"), col("cluster_id"))),

    // ---- keep-best cluster dedup: per near-dup component retain the
    //      HIGHEST-QUALITY copy (n_chars, id tiebreak) instead of the
    //      arbitrary min-id — what a production pipeline actually ships.
    //      Singletons survive as their own cluster. Oracle re-derives the
    //      q87 closure, then takes the same argmax with QUALIFY.
    GraftQuery("q282_keep_best_dedup",
      Some("WITH RECURSIVE " + jaccPairCteSql + ",\n" + ccCteSqlOf("p") + """
             |SELECT d.doc_id, d.lang, d.source, d.n_chars
             |FROM documents d LEFT JOIN cc ON cc.id = d.doc_id
             |QUALIFY row_number() OVER (
             |  PARTITION BY coalesce(cc.cluster_id, d.doc_id)
             |  ORDER BY d.n_chars DESC, d.doc_id) = 1""".stripMargin),
      (s, dir) => Dedup.dedupByClustersKeepBest(
        t(s, dir, "documents").select("doc_id", "lang", "source", "n_chars"),
        "doc_id", jaccardPairs(s, dir), col("n_chars"))),

    // ---- inter-source duplication matrix: near-dup pairs bucketed by the
    //      unordered (source, source) pair — the data-card view of WHICH
    //      sources duplicate each other (within-source on the diagonal).
    //      Pair-scoped joins against a 2-column doc frame; counts only.
    GraftQuery("q283_source_overlap_matrix",
      Some(("""WITH """ + jaccPairCteSql + """
             |SELECT least(da.source, db.source) AS src_a,
             |  greatest(da.source, db.source) AS src_b,
             |  count(*) AS n_pairs
             |FROM p JOIN documents da ON da.doc_id = p.id_a
             |  JOIN documents db ON db.doc_id = p.id_b
             |GROUP BY 1, 2""").stripMargin),
      (s, dir) => {
        val src = t(s, dir, "documents").select(col("doc_id"), col("source"))
        jaccardPairs(s, dir)
          .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")), "id_a")
          .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), "id_b")
          .groupBy(least(col("sa"), col("sb")).as("src_a"),
            greatest(col("sa"), col("sb")).as("src_b"))
          .agg(count(lit(1)).as("n_pairs"))
      }),

    // ---- MinHash near-dup DECONTAMINATION (round 6): corpus docs that
    //      are paraphrase-level near-dups of a benchmark item — the
    //      lexical middle ground between exact n-gram (q80) and
    //      embedding-cosine (q263) contamination. Bench side broadcasts;
    //      candidates are band-bucket collisions only. The oracle replays
    //      the ENTIRE two-sided pipeline with the q55 md5-portable
    //      machinery; summary is order-free integers.
    GraftQuery("q285_near_dup_decontaminate",
      Some("""WITH allv AS (
             |  SELECT CASE WHEN doc_id % 7 = 0 THEN 'b' ELSE 'c' END AS sd,
             |    doc_id, text FROM documents),
             |t AS (SELECT sd, doc_id,
             |    string_split_regex(trim(text), '\s+') AS toks FROM allv),
             |sh AS (
             |  SELECT sd, doc_id, toks[i.i] || ' ' || toks[i.i+1] || ' ' || toks[i.i+2] AS s
             |  FROM t, unnest(generate_series(1, len(toks) - 2)) i(i)
             |  WHERE len(toks) >= 3
             |  UNION
             |  SELECT sd, doc_id, array_to_string(toks, ' ') FROM t WHERE len(toks) < 3),
             |hs AS (SELECT sd, doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM sh),
             |co AS (SELECT j.j,
             |    2 * ('0x' || substr(md5('mh:a:' || j.j), 1, 7))::BIGINT + 1 AS a,
             |    ('0x' || substr(md5('mh:b:' || j.j), 1, 15))::BIGINT AS b
             |  FROM generate_series(0, 63) j(j)),
             |mins AS (SELECT sd, doc_id, j,
             |    min((a::HUGEINT * h + b) % 18446744073709551616) AS m
             |  FROM hs CROSS JOIN co GROUP BY sd, doc_id, j),
             |bk AS (SELECT sd, doc_id, j // 4 AS band,
             |    md5(string_agg(m::VARCHAR, ',' ORDER BY j)) AS key
             |  FROM mins GROUP BY sd, doc_id, j // 4),
             |cand AS (SELECT DISTINCT c.doc_id AS cid, b.doc_id AS bid
             |  FROM bk c JOIN bk b ON c.band = b.band AND c.key = b.key
             |  WHERE c.sd = 'c' AND b.sd = 'b'),
             |sl AS (SELECT sd, doc_id, list(s) AS l FROM sh GROUP BY sd, doc_id),
             |ver AS (SELECT cid, bid,
             |    len(list_intersect(sc.l, sb.l))::DOUBLE
             |      / len(list_distinct(list_concat(sc.l, sb.l))) AS jac
             |  FROM cand JOIN sl sc ON sc.sd = 'c' AND sc.doc_id = cid
             |    JOIN sl sb ON sb.sd = 'b' AND sb.doc_id = bid)
             |SELECT count(*)::BIGINT AS n_pairs,
             |  count(DISTINCT cid)::BIGINT AS n_contaminated,
             |  coalesce(sum(CAST(round(jac * 10000) AS BIGINT)), 0)::BIGINT
             |    AS sum_jaccard_bp
             |FROM ver WHERE jac >= 0.8""".stripMargin),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Decontaminate.nearDupContaminated(
            docs.filter(col("doc_id") % 7 =!= 0), "doc_id", "text",
            docs.filter(col("doc_id") % 7 === 0), "doc_id", "text")
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct(col("doc_id")).as("n_contaminated"),
            coalesce(sum(round(col("jaccard") * 10000).cast("long")), lit(0L))
              .as("sum_jaccard_bp"))
      }),

    // ---- multi-benchmark contamination MATRIX (round 6): per-(eval
    //      suite, n-gram size) overlap rates — the data-card report that
    //      generalizes q80's single-bench check. Two pseudo-benchmarks
    //      drawn by doc_id residue; corpus excludes both. All-integer
    //      output, zero-hit rows guaranteed present.
    GraftQuery("q286_contamination_matrix",
      Some("""WITH corpus AS (
             |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
             |  FROM documents WHERE doc_id % 11 <> 0 AND doc_id % 13 <> 0),
             |bench AS (
             |  SELECT 'b11' AS bm, string_split_regex(trim(lower(text)), '\s+') AS toks
             |  FROM documents WHERE doc_id % 11 = 0
             |  UNION ALL
             |  SELECT 'b13', string_split_regex(trim(lower(text)), '\s+')
             |  FROM documents WHERE doc_id % 13 = 0),
             |ns AS (SELECT unnest([5, 13]) AS n),
             |pos AS (SELECT unnest(generate_series(1,
             |  (SELECT max(len(string_split_regex(trim(text), '\s+')))
             |   FROM documents))) AS i),
             |cg AS (
             |  SELECT ns.n, c.doc_id,
             |    array_to_string(c.toks[pos.i : pos.i + ns.n - 1], ' ') AS g
             |  FROM corpus c CROSS JOIN ns CROSS JOIN pos
             |  WHERE len(c.toks) >= ns.n AND pos.i <= len(c.toks) - ns.n + 1
             |  UNION ALL
             |  SELECT ns.n, c.doc_id, array_to_string(c.toks, ' ')
             |  FROM corpus c CROSS JOIN ns WHERE len(c.toks) < ns.n),
             |bg AS (
             |  SELECT DISTINCT ns.n, b.bm,
             |    array_to_string(b.toks[pos.i : pos.i + ns.n - 1], ' ') AS g
             |  FROM bench b CROSS JOIN ns CROSS JOIN pos
             |  WHERE len(b.toks) >= ns.n AND pos.i <= len(b.toks) - ns.n + 1
             |  UNION ALL
             |  SELECT DISTINCT ns.n, b.bm, array_to_string(b.toks, ' ')
             |  FROM bench b CROSS JOIN ns WHERE len(b.toks) < ns.n),
             |hits AS (SELECT DISTINCT bg.bm, cg.n, cg.doc_id
             |  FROM cg JOIN bg ON bg.n = cg.n AND bg.g = cg.g),
             |tot AS (SELECT count(*) AS n_docs FROM corpus),
             |hc AS (SELECT bm, n, count(*) AS c FROM hits GROUP BY 1, 2)
             |SELECT k.bm AS benchmark, ns.n::BIGINT AS ngram_n,
             |  coalesce(hc.c, 0)::BIGINT AS n_contaminated,
             |  tot.n_docs::BIGINT AS n_docs,
             |  (coalesce(hc.c, 0) * 10000 // tot.n_docs)::BIGINT AS rate_bp
             |FROM (SELECT 'b11' AS bm UNION ALL SELECT 'b13') k
             |CROSS JOIN ns CROSS JOIN tot
             |LEFT JOIN hc ON hc.bm = k.bm AND hc.n = ns.n""".stripMargin),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val corpus = docs.filter(
          col("doc_id") % 11 =!= 0 && col("doc_id") % 13 =!= 0)
        val bench = docs.filter(col("doc_id") % 11 === 0)
          .select(lit("b11").as("benchmark"), col("text"))
          .unionByName(docs.filter(col("doc_id") % 13 === 0)
            .select(lit("b13").as("benchmark"), col("text")))
        Decontaminate.contaminationMatrix(
          corpus, "doc_id", "text", bench, "benchmark", "text", Seq(5, 13))
      }),

    // ---- exact tie-aware ROC AUC of a pipeline score (round 6): does
    //      token-diversity separate English from the rest? The Eval
    //      machinery is the point — histogram Mann-Whitney with ×2
    //      integer tie credit, never a per-row sort. One all-integer row.
    GraftQuery("q287_score_auc",
      Some("""WITH s AS (SELECT
             |    (len(list_distinct(string_split_regex(trim(text), '\s+'))) * 10000
             |      // len(string_split_regex(trim(text), '\s+'))) AS sc,
             |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
             |  FROM documents),
             |h AS (SELECT sc, sum(y) AS np, sum(1 - y) AS nn FROM s GROUP BY 1),
             |c AS (SELECT sc, np, nn,
             |    coalesce(sum(nn) OVER (ORDER BY sc
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
             |  FROM h)
             |SELECT sum(np)::BIGINT AS n_pos, sum(nn)::BIGINT AS n_neg,
             |  sum(np * (2 * below + nn))::BIGINT AS u_x2,
             |  (sum(np * (2 * below + nn)) * 10000
             |    // (sum(np) * sum(nn) * 2))::BIGINT AS auc_bp
             |FROM c""".stripMargin),
      (s, dir) => {
        val toks = tokens(col("text"))
        graft.pipeline.Eval.binaryAuc(
          t(s, dir, "documents").select(
            (size(array_distinct(toks)).cast("long") * 10000 /
              size(toks).cast("long")).cast("long").as("score"),
            col("lang")),
          col("score"), col("lang") === "en")
      }),

    // ---- data-constrained epoch allocation (round 6): weight-split a
    //      token budget across sources, cap at 2.0 epochs, redistribute
    //      the surplus one deterministic round. Integer decision table
    //      per source — the mixing plan a 100 TB run locks in up front.
    GraftQuery("q288_epoch_allocation",
      Some("""WITH d AS (SELECT source,
             |    sum(len(string_split_regex(trim(text), '\s+')))::BIGINT AS nt
             |  FROM documents GROUP BY 1),
             |w AS (SELECT source, nt,
             |    (('0x' || substr(md5(source || ':w'), 1, 8))::BIGINT % 100) + 1 AS wt
             |  FROM d),
             |tt AS (SELECT (sum(nt) * 3 // 2) AS b, sum(wt) AS sw FROM w),
             |a AS (SELECT source, nt, wt, (wt * b // sw) AS ta,
             |    (nt * 20000 // 10000) AS cap FROM w CROSS JOIN tt),
             |f AS (SELECT *, least(ta, cap) AS fst FROM a),
             |t2 AS (SELECT sum(ta - fst) AS surplus,
             |    sum(CASE WHEN fst < cap THEN wt ELSE 0 END) AS w2 FROM f),
             |fin AS (SELECT source, nt, wt, ta,
             |    least(cap, fst + CASE WHEN fst < cap AND w2 > 0
             |      THEN wt * surplus // w2 ELSE 0 END) AS fa
             |  FROM f CROSS JOIN t2)
             |SELECT source, nt::BIGINT AS n_tokens, wt::BIGINT AS weight,
             |  ta::BIGINT AS target_alloc, fa::BIGINT AS final_alloc,
             |  (fa * 10000 // nt)::BIGINT AS epochs_bp
             |FROM fin""".stripMargin),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val perSrc = docs.groupBy(col("source"))
          .agg(sum(size(tokens(col("text"))).cast("long")).as("n_tokens"))
        val budget = perSrc.agg(sum("n_tokens")).head.getLong(0) * 3 / 2
        graft.pipeline.Mixing.epochAllocation(
          perSrc, "source", "n_tokens",
          sampleBucket(concat(col("source"), lit(":w")), 100) + lit(1L),
          budget, maxEpochsBp = 20000)
      }),

    // ---- source-interleaved training order (round 6): per-source md5
    //      shuffle + round-robin weave (rank*S + source_idx) — bounds the
    //      gap between consecutive docs of one source, where a plain
    //      md5 shuffle mixes only in expectation. One two-phase global
    //      rank; O(sources) driver state.
    GraftQuery("q291_interleaved_order",
      Some("""WITH k AS (SELECT doc_id, source,
             |    md5(':il' || doc_id::VARCHAR) AS ky FROM documents),
             |r AS (SELECT doc_id, source,
             |    row_number() OVER (PARTITION BY source ORDER BY ky, doc_id) - 1 AS rn
             |  FROM k),
             |s AS (SELECT source, row_number() OVER (ORDER BY source) - 1 AS idx
             |  FROM (SELECT DISTINCT source FROM documents)),
             |c AS (SELECT count(*) AS ns FROM s)
             |SELECT r.doc_id, r.source,
             |  (r.rn * c.ns + s.idx)::BIGINT AS interleave_seq
             |FROM r JOIN s USING (source) CROSS JOIN c""".stripMargin),
      (s, dir) => graft.pipeline.Sharding.interleaved(
          t(s, dir, "documents"), "doc_id", "source", ":il")
        .select(col("doc_id"), col("source"), col("interleave_seq"))),

    // ---- SURGICAL span decontamination (round 6): excise only the
    //      contaminated 8-gram spans, keep the document — the span-level
    //      alternative to dropping whole docs (q80/q290). Oracle replays
    //      the token surgery per position; text + integers, hash-checked.
    GraftQuery("q292_span_decontaminate",
      Some("""WITH corpus AS (SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS toks,
             |    string_split_regex(trim(lower(text)), '\s+') AS ltoks
             |  FROM documents WHERE doc_id % 19 <> 0),
             |bench AS (SELECT string_split_regex(trim(lower(text)), '\s+') AS toks
             |  FROM documents WHERE doc_id % 19 = 0),
             |pos AS (SELECT unnest(generate_series(1,
             |  (SELECT max(len(string_split_regex(trim(text), '\s+')))
             |   FROM documents))) AS i),
             |bg AS (
             |  SELECT DISTINCT array_to_string(toks[pos.i : pos.i + 7], ' ') AS g
             |  FROM bench CROSS JOIN pos
             |  WHERE len(toks) >= 8 AND pos.i <= len(toks) - 7
             |  UNION
             |  SELECT array_to_string(toks, ' ') FROM bench WHERE len(toks) < 8),
             |cg AS (SELECT c.doc_id, pos.i AS p,
             |    array_to_string(c.ltoks[pos.i : pos.i + 7], ' ') AS g
             |  FROM corpus c CROSS JOIN pos
             |  WHERE len(c.ltoks) >= 8 AND pos.i <= len(c.ltoks) - 7),
             |m AS (SELECT DISTINCT cg.doc_id, cg.p FROM cg JOIN bg USING (g)),
             |cov AS (SELECT DISTINCT m.doc_id, u.i AS ti
             |  FROM m CROSS JOIN unnest(generate_series(m.p, m.p + 7)) u(i)),
             |tok AS (SELECT doc_id, u.i, toks[u.i] AS tk
             |  FROM corpus, unnest(generate_series(1, len(toks))) u(i)),
             |keep AS (SELECT t.doc_id, t.i, t.tk FROM tok t
             |  LEFT JOIN cov v ON v.doc_id = t.doc_id AND v.ti = t.i
             |  WHERE v.doc_id IS NULL)
             |SELECT c.doc_id, coalesce(k.ct, '') AS cleaned_text,
             |  len(c.toks)::BIGINT AS n_tokens,
             |  (len(c.toks) - coalesce(k.n, 0))::BIGINT AS n_removed
             |FROM corpus c LEFT JOIN (
             |  SELECT doc_id, string_agg(tk, ' ' ORDER BY i) AS ct,
             |    count(*) AS n
             |  FROM keep GROUP BY 1) k USING (doc_id)""".stripMargin),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Decontaminate.exciseSpans(
          docs.filter(col("doc_id") % 19 =!= 0), "doc_id", "text",
          docs.filter(col("doc_id") % 19 === 0), "text", n = 8)
      }),

    // ---- MinHash-LSH near-dup (exact-vs-LSH recall in PipelineSpec).
    //      Hash-checked since round 5: the md5-portable minhash family
    //      (functions/MinHash.scala scaladoc) lets the oracle replay the
    //      ENTIRE pipeline — base hashes, affine permutations in HUGEINT
    //      mod-2^64, unsigned slot minima, banded md5 keys, bucket join,
    //      exact Jaccard verify. Summary is integer basis points so
    //      summation order can't flake the hash.
    GraftQuery("q55_minhash_lsh",
      Some("""WITH t AS (SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS toks
             |  FROM documents),
             |sh AS (
             |  SELECT doc_id, toks[i.i] || ' ' || toks[i.i+1] || ' ' || toks[i.i+2] AS s
             |  FROM t, unnest(generate_series(1, len(toks) - 2)) i(i)
             |  WHERE len(toks) >= 3
             |  UNION
             |  SELECT doc_id, array_to_string(toks, ' ') FROM t WHERE len(toks) < 3),
             |hs AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM sh),
             |co AS (SELECT j.j,
             |    2 * ('0x' || substr(md5('mh:a:' || j.j), 1, 7))::BIGINT + 1 AS a,
             |    ('0x' || substr(md5('mh:b:' || j.j), 1, 15))::BIGINT AS b
             |  FROM generate_series(0, 63) j(j)),
             |mins AS (SELECT doc_id, j,
             |    min((a::HUGEINT * h + b) % 18446744073709551616) AS m
             |  FROM hs CROSS JOIN co GROUP BY doc_id, j),
             |bk AS (SELECT doc_id, j // 4 AS band,
             |    md5(string_agg(m::VARCHAR, ',' ORDER BY j)) AS key
             |  FROM mins GROUP BY doc_id, j // 4),
             |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key
             |    AND a.doc_id < b.doc_id),
             |sl AS (SELECT doc_id, list(s) AS l FROM sh GROUP BY doc_id),
             |ver AS (SELECT id_a, id_b,
             |    len(list_intersect(sa.l, sb.l))::DOUBLE
             |      / len(list_distinct(list_concat(sa.l, sb.l))) AS jac
             |  FROM cand JOIN sl sa ON sa.doc_id = id_a
             |    JOIN sl sb ON sb.doc_id = id_b)
             |SELECT count(*)::BIGINT AS n_pairs,
             |  coalesce(sum(CAST(round(jac * 10000) AS BIGINT)), 0)::BIGINT
             |    AS sum_jaccard_bp
             |FROM ver WHERE jac >= 0.8""".stripMargin),
      (s, dir) => Dedup.minhashNearDupPairs(
          t(s, dir, "documents"), "doc_id", "text",
          shingleK = 3, numHashes = 64, bands = 16, threshold = 0.8)
        .agg(count(lit(1)).as("n_pairs"),
             coalesce(sum(round(col("jaccard") * 10000).cast("long")), lit(0L))
               .as("sum_jaccard_bp"))),

    // ---- SimHash near-dup. Hash-checked since round 5: the md5-prefix-60
    //      token hash (SimHashUtil scaladoc) makes the 60-bit fingerprint,
    //      4×15 banding, and bit_count verify all SQL-replayable; summary
    //      is an integer hamming sum (order-free).
    GraftQuery("q56_simhash",
      Some("""WITH t AS (SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS toks FROM documents),
             |tok AS (SELECT doc_id, u.t AS tk FROM t, unnest(toks) u(t)),
             |h AS (SELECT doc_id, ('0x' || substr(md5(tk), 1, 15))::BIGINT AS h
             |  FROM tok),
             |bs AS (SELECT doc_id, b.b,
             |    sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS c
             |  FROM h, generate_series(0, 59) b(b) GROUP BY 1, 2),
             |fp AS (SELECT doc_id,
             |    sum(CASE WHEN c > 0 THEN 1::BIGINT << b ELSE 0::BIGINT END) AS sim
             |  FROM bs GROUP BY 1),
             |bk AS (SELECT doc_id, sim, b.b AS band,
             |    (sim >> (b.b * 15)) & 32767 AS key
             |  FROM fp, generate_series(0, 3) b(b)),
             |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             |    a.sim AS sa, b.sim AS sb
             |  FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key
             |    AND a.doc_id < b.doc_id),
             |ver AS (SELECT id_a, id_b, bit_count(xor(sa, sb)) AS hamming
             |  FROM cand WHERE bit_count(xor(sa, sb)) <= 3)
             |SELECT count(*)::BIGINT AS n_pairs,
             |  coalesce(sum(hamming), 0)::BIGINT AS sum_hamming FROM ver""".stripMargin),
      (s, dir) => Dedup.simhashNearDupPairs(
          t(s, dir, "documents"), "doc_id", "text", bands = 4, maxHamming = 3)
        .agg(count(lit(1)).as("n_pairs"),
             coalesce(sum(col("hamming").cast("long")), lit(0L)).as("sum_hamming"))),

    // ---- perceptual-hash media near-dup (Multimodal.Phash): DCT-based
    //      64-bit hash over the stubbed luma grid, banded-Hamming bucket
    //      join (the simhash machinery generalized to any signature).
    //      Hash-dependent output → rows-only; robustness/recall contracts
    //      in PipelineSpec.
    //      The corpus is each media row PLUS a half-resolution resized copy
    //      (ids offset) — rescaled copies are exactly what a perceptual
    //      hash must catch that exact/byte hashing cannot.
    GraftQuery("q218_phash_media_dup", None,
      (s, dir) => {
        import s.implicits._
        val media = Multimodal.fromDocuments(s, t(s, dir, "documents"))
        val scaled = Multimodal.resize(media, 32, 24)
          .map(r => r.copy(media_id = r.media_id + 1000000000L))
        Multimodal.phashNearDupPairs(media.unionAll(scaled),
            bands = 4, maxHamming = 6)
          .agg(count(lit(1)).as("n_pairs"),
               coalesce(round(avg("hamming"), 4), lit(-1.0)).as("avg_hamming"))
      }),

    // ---- brute-force cosine top-k (the ANN correctness baseline)
    GraftQuery("q57_ann_brute_force",
      Some("""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
             |SELECT vec_id,
             |  round(list_cosine_similarity(embedding::DOUBLE[], qv), 4) AS cosine
             |FROM embeddings, q
             |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin),
      (s, dir) => Similarity.bruteForceTopK(
        t(s, dir, "embeddings"), "vec_id", "embedding", queryVec(s, dir), 10)),

    // ---- LSH-bucketed ANN (scale path; recall asserted in PipelineSpec).
    //      Hash-checked since round 5: the md5-seeded Rademacher planes +
    //      integer-quantized dots (functions/RademacherSig) make candidate
    //      generation SQL-replayable, so the oracle reruns the exact probe.
    GraftQuery("q58_ann_lsh",
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
             |qv AS (SELECT vec_id, i.i - 1 AS d,
             |    CAST(round(emb[i.i] * 1000000) AS BIGINT) AS q
             |  FROM e, unnest(generate_series(1, len(emb))) i(i)),
             |pl AS (SELECT t.t, j.j, d.d,
             |    CASE WHEN ('0x' || substr(md5('rp:' || t.t || ':' || j.j || ':' || d.d), 1, 1))::INT % 2 = 0
             |      THEN 1 ELSE -1 END AS s
             |  FROM generate_series(0, 15) t(t), generate_series(0, 5) j(j),
             |       generate_series(0, 63) d(d)),
             |dots AS (SELECT qv.vec_id, pl.t, pl.j, sum(qv.q * pl.s) AS dot
             |  FROM qv JOIN pl ON qv.d = pl.d GROUP BY 1, 2, 3),
             |sig AS (SELECT vec_id, t,
             |    sum(CASE WHEN dot > 0 THEN 1 << j ELSE 0 END)::BIGINT AS key
             |  FROM dots GROUP BY 1, 2),
             |qsig AS (SELECT t, key FROM sig WHERE vec_id = 0),
             |cand AS (SELECT DISTINCT s.vec_id
             |  FROM sig s JOIN qsig ON s.t = qsig.t AND s.key = qsig.key)
             |SELECT e.vec_id,
             |  round(list_cosine_similarity(e.emb,
             |    (SELECT emb FROM e WHERE vec_id = 0)), 4) AS cosine
             |FROM cand JOIN e USING (vec_id)
             |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin),
      (s, dir) => Similarity.lshTopK(
        t(s, dir, "embeddings"), "vec_id", "embedding", queryVec(s, dir), 10,
        tables = 16, bits = 6)),

    // ---- IVF (k-means-bucketed) ANN — the other classic scale path. The
    //      battery runs it at nprobe = nlist, where IVF degenerates to
    //      exact top-k and the brute-force SQL becomes a true oracle
    //      (hash-checked); the PRUNED path (nprobe << nlist) keeps its
    //      recall spec in PipelineSpec — operator unchanged, only the
    //      query's probe width is exhaustive.
    GraftQuery("q72_ann_ivf",
      Some("""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
             |SELECT vec_id,
             |  round(list_cosine_similarity(embedding::DOUBLE[], qv), 4) AS cosine
             |FROM embeddings, q
             |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin),
      (s, dir) => Ivf.ivfTopK(
        t(s, dir, "embeddings"), "vec_id", "embedding", queryVec(s, dir), 10,
        nlist = 16, nprobe = 16)),

    // ---- persisted IVF index: corpus written partitioned by inverted
    //      list, probe = partition-directory pruning. Full-probe here for
    //      the exact oracle (q72 note); the 2-of-16-directories pruning
    //      demo + plan assert live in PipelineSpec
    GraftQuery("q124_ann_ivf_index",
      Some("""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
             |SELECT vec_id,
             |  round(list_cosine_similarity(embedding::DOUBLE[], qv), 4) AS cosine
             |FROM embeddings, q
             |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin),
      (s, dir) => {
        val path = graft.TempDirs.create("graft-ivf-q").toString
        Ivf.buildIndex(t(s, dir, "embeddings"), "vec_id", "embedding", path,
          nlist = 16)
        Ivf.probeIndex(s, path, "vec_id", "embedding", queryVec(s, dir), 10,
          nprobe = 16)
      }),

    // ---- incremental IVF maintenance (Ivf.appendToIndex, FAISS `add`
    //      semantics): index built on HALF the corpus, the other half
    //      appended against the frozen centroids; a full-width probe
    //      (nprobe = nlist → every directory scanned) must equal exact
    //      brute force over the UNION — proving appended vectors are
    //      first-class index members. Same oracle as q124.
    GraftQuery("q219_ann_ivf_append",
      Some("""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
             |SELECT vec_id,
             |  round(list_cosine_similarity(embedding::DOUBLE[], qv), 4) AS cosine
             |FROM embeddings, q
             |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin),
      (s, dir) => {
        val path = graft.TempDirs.create("graft-ivf-a").toString
        val embs = t(s, dir, "embeddings")
        Ivf.buildIndex(embs.filter(col("vec_id") % 2 === 0),
          "vec_id", "embedding", path, nlist = 16)
        Ivf.appendToIndex(embs.filter(col("vec_id") % 2 === 1),
          "vec_id", "embedding", path)
        Ivf.probeIndex(s, path, "vec_id", "embedding", queryVec(s, dir), 10,
          nprobe = 16)
      }),

    // ---- near-dup evidence (Dedup.explainPairs): per q54 pair, the 3
    //      RAREST shared tokens (global df asc, then lexicographic) as one
    //      deterministic string — the audit view behind a dedup decision.
    //      Computed only for the pairs given, never all-pairs.
    GraftQuery("q274_dup_evidence",
      Some("""WITH t AS (SELECT doc_id, lang,
             |    list_distinct(string_split_regex(trim(text), '\s+')) AS toks,
             |    length(text) // 100 AS lenb
             |  FROM documents),
             |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |    a.toks AS ta, b.toks AS tb
             |  FROM t a JOIN t b
             |    ON a.lang = b.lang AND abs(a.lenb - b.lenb) <= 1
             |    AND a.doc_id < b.doc_id
             |  WHERE len(list_intersect(a.toks, b.toks))::DOUBLE /
             |    (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8),
             |f AS (SELECT u.t AS tok, count(*)::BIGINT AS df
             |  FROM t, unnest(t.toks) AS u(t) GROUP BY 1),
             |e AS (SELECT id_a, id_b, u.t AS tok
             |  FROM p, unnest(list_intersect(ta, tb)) AS u(t)),
             |r AS (SELECT e.id_a, e.id_b, e.tok,
             |    row_number() OVER (PARTITION BY e.id_a, e.id_b
             |      ORDER BY f.df, e.tok) AS rk
             |  FROM e JOIN f USING (tok))
             |SELECT id_a, id_b, count(*)::BIGINT AS n_evidence,
             |  string_agg(tok, ' | ' ORDER BY rk) AS evidence
             |FROM r WHERE rk <= 3 GROUP BY id_a, id_b""".stripMargin),
      (s, dir) => Dedup.explainPairs(
        t(s, dir, "documents"), jaccardPairs(s, dir), "doc_id", "text",
        n = 1, top = 3)),

    // ---- IVF index rebalance (Ivf.rebalanceIndex): the index-lifecycle
    //      maintenance step — retrain on current contents after drifting
    //      appends, generation-swap the layout, report rows/skew/
    //      quantization quality before and after. kmeans-derived →
    //      rows-only; quality-never-degrades + rows-preserved spec'd.
    GraftQuery("q273_ivf_rebalance", None,
      (s, dir) => {
        val path = graft.TempDirs.create("graft-ivf-r").toString
        val embs = t(s, dir, "embeddings")
        Ivf.buildIndex(embs.filter(col("vec_id") % 2 === 0),
          "vec_id", "embedding", path, nlist = 16)
        Ivf.appendToIndex(embs.filter(col("vec_id") % 2 === 1),
          "vec_id", "embedding", path)
        Ivf.rebalanceIndex(s, path, "vec_id", "embedding", nlist = 16)
      }),

    // ---- PCA whitening (embedding-space curation preprocessing): one
    //      treeAggregate covariance pass + driver eigendecomp + map-only
    //      projection; rows-only (eigenbasis is learned) — identity
    //      covariance + determinism asserted in PipelineSpec
    GraftQuery("q139_pca_whiten", None,
      (s, dir) => graft.pipeline.Whitening.pcaWhiten(
          t(s, dir, "embeddings"), "vec_id", "embedding", k = 8)
        .select(col("vec_id"),
          round(element_at(col("whitened"), 1), 4).as("w1"),
          round(element_at(col("whitened"), 2), 4).as("w2"))
        .orderBy("vec_id").limit(20)),

    // ---- product-quantization ANN (compression scale path): ADC over
    //      m=8 int codes per vector over-fetches candidates, exact rerank
    //      on the short list; recall + exactness-at-full-refine asserted
    //      in PipelineSpec
    GraftQuery("q133_ann_pq", None,
      (s, dir) => Pq.pqTopKRerank(
        t(s, dir, "embeddings"), "vec_id", "embedding", queryVec(s, dir), 10,
        refine = 5, m = 8, ksub = 16, maxTrain = 10000)),

    // ---- embedding norms by cluster label
    GraftQuery("q59_embedding_norms",
      Some("""SELECT label, count(*) AS n,
             |  round(avg(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x)))), 4) AS avg_norm
             |FROM embeddings GROUP BY label""".stripMargin),
      (s, dir) => t(s, dir, "embeddings").groupBy("label").agg(
        count(lit(1)).as("n"),
        round(avg(sqrt(aggregate(col("embedding"), lit(0.0),
          (acc, x) => acc + x.cast("double") * x.cast("double")))), 4).as("avg_norm"))),

    // ---- embedding-cosine near-dup, exact all-pairs — SMALL-N ORACLE
    //      BASELINE (norms once per vector, native dot kernel). The engine's
    //      default operator is Similarity.nearDupPairs (LSH-bucketed, q61);
    //      this entry exists because a low-threshold exact output is itself
    //      quadratic, which only a cross join can produce — and the oracle
    //      needs that exact output to check the cosine kernel.
    GraftQuery("q60_embedding_near_dup",
      Some("""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cosine
             |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
             |WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) >= 0.25""".stripMargin),
      (s, dir) => Similarity.exactCosinePairs(
        t(s, dir, "embeddings"), "vec_id", "embedding", threshold = 0.25)),

    // ---- embedding near-dup via LSH buckets (the index-scale path: true
    //      near-dups at cos>=0.9 collide with ~94% probability at these
    //      params; recall asserted in PipelineSpec on perturbed twins).
    //      Hash-checked since round 5 (portable Rademacher planes, q58
    //      note); the summary is integer basis points, not a float avg,
    //      so summation order can't flake the hash.
    GraftQuery("q61_embedding_near_dup_lsh",
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
             |qv AS (SELECT vec_id, i.i - 1 AS d,
             |    CAST(round(emb[i.i] * 1000000) AS BIGINT) AS q
             |  FROM e, unnest(generate_series(1, len(emb))) i(i)),
             |pl AS (SELECT t.t, j.j, d.d,
             |    CASE WHEN ('0x' || substr(md5('rp:' || t.t || ':' || j.j || ':' || d.d), 1, 1))::INT % 2 = 0
             |      THEN 1 ELSE -1 END AS s
             |  FROM generate_series(0, 7) t(t), generate_series(0, 7) j(j),
             |       generate_series(0, 63) d(d)),
             |dots AS (SELECT qv.vec_id, pl.t, pl.j, sum(qv.q * pl.s) AS dot
             |  FROM qv JOIN pl ON qv.d = pl.d GROUP BY 1, 2, 3),
             |sig AS (SELECT vec_id, t,
             |    sum(CASE WHEN dot > 0 THEN 1 << j ELSE 0 END)::BIGINT AS key
             |  FROM dots GROUP BY 1, 2),
             |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
             |  FROM sig a JOIN sig b ON a.t = b.t AND a.key = b.key
             |    AND a.vec_id < b.vec_id),
             |ver AS (SELECT id_a, id_b,
             |    round(list_cosine_similarity(ea.emb, eb.emb), 4) AS c
             |  FROM cand JOIN e ea ON ea.vec_id = id_a
             |    JOIN e eb ON eb.vec_id = id_b)
             |SELECT count(*)::BIGINT AS n_pairs,
             |  coalesce(sum(CAST(round(c * 10000) AS BIGINT)), 0)::BIGINT
             |    AS sum_cosine_bp
             |FROM ver WHERE c >= 0.9""".stripMargin),
      (s, dir) => Similarity.nearDupPairs(
          t(s, dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.9, tables = 8, bits = 8)
        .agg(count(lit(1)).as("n_pairs"),
             coalesce(sum(round(col("cosine") * 10000).cast("long")), lit(0L))
               .as("sum_cosine_bp"))),

    // ---- DSIR importance weights (Xie et al. 2023): log p_target/p_raw
    //      per doc under add-1 bag-of-ngram models, target = English docs;
    //      the oracle re-fits both models in SQL over the same gram stream
    GraftQuery("q116_dsir_weights",
      Some("""WITH t AS (SELECT doc_id, lang = 'en' AS tgt,
             |    string_split_regex(trim(lower(text)), '\s+') AS toks
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, tgt, u.t AS gram FROM t, unnest(t.toks) AS u(t)
             |  UNION ALL
             |  SELECT doc_id, tgt, toks[i.i] || ' ' || toks[i.i + 1]
             |  FROM t, unnest(generate_series(1, len(toks) - 1)) AS i(i)),
             |c AS (SELECT gram, count(*)::DOUBLE AS cr,
             |    sum(CASE WHEN tgt THEN 1 ELSE 0 END)::DOUBLE AS ct
             |  FROM g GROUP BY gram),
             |s AS (SELECT sum(cr) AS nr, sum(ct) AS nt, count(*)::DOUBLE AS v FROM c)
             |SELECT g.doc_id,
             |  round(sum(ln((c.ct + 1.0) / (s.nt + s.v))
             |          - ln((c.cr + 1.0) / (s.nr + s.v))), 4) AS dsir_logw
             |FROM g JOIN c USING (gram) CROSS JOIN s
             |GROUP BY g.doc_id""".stripMargin),
      (s, dir) => dsirWeights(s, dir)
        .withColumn("dsir_logw", round(col("dsir_logw"), 4))),

    // ---- DSIR Gumbel top-k resample: 50 docs without replacement from
    //      the softmax of the weights; the md5-bucket noise is the same
    //      deterministic hash on both engines, so the draw is reproducible
    GraftQuery("q117_dsir_resample",
      Some("""WITH t AS (SELECT doc_id, lang = 'en' AS tgt,
             |    string_split_regex(trim(lower(text)), '\s+') AS toks
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, tgt, u.t AS gram FROM t, unnest(t.toks) AS u(t)
             |  UNION ALL
             |  SELECT doc_id, tgt, toks[i.i] || ' ' || toks[i.i + 1]
             |  FROM t, unnest(generate_series(1, len(toks) - 1)) AS i(i)),
             |c AS (SELECT gram, count(*)::DOUBLE AS cr,
             |    sum(CASE WHEN tgt THEN 1 ELSE 0 END)::DOUBLE AS ct
             |  FROM g GROUP BY gram),
             |s AS (SELECT sum(cr) AS nr, sum(ct) AS nt, count(*)::DOUBLE AS v FROM c),
             |w AS (SELECT g.doc_id,
             |    sum(ln((c.ct + 1.0) / (s.nt + s.v))
             |      - ln((c.cr + 1.0) / (s.nr + s.v))) AS lw
             |  FROM g JOIN c USING (gram) CROSS JOIN s
             |  GROUP BY g.doc_id),
             |k AS (SELECT doc_id, lw - ln(-ln(
             |    ((('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 1000000)
             |      + 0.5) / 1000000.0)) AS gk FROM w)
             |SELECT doc_id, round(gk, 4) AS gumbel_key
             |FROM k ORDER BY gk DESC, doc_id LIMIT 50""".stripMargin),
      (s, dir) => graft.pipeline.Dsir.resample(dsirWeights(s, dir), "doc_id", 50)
        .select(col("doc_id"), round(col("gumbel_key"), 4).as("gumbel_key"))),

    // ---- Gopher quality-rule battery (Rae et al. 2021 App. A1.1): the
    //      published heuristic thresholds as one map-only signal battery
    GraftQuery("q118_gopher_rules",
      Some("""WITH t AS (SELECT doc_id, text,
             |    string_split_regex(trim(text), '\s+') AS toks,
             |    string_split(text, chr(10)) AS lines
             |  FROM documents),
             |s AS (SELECT doc_id,
             |    len(toks)::DOUBLE AS n,
             |    list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks) AS mwl,
             |    ((length(text) - length(replace(text, '#', '')))
             |      + (length(text) - length(replace(text, '...', ''))) // 3)::DOUBLE
             |      / len(toks) AS symr,
             |    len(list_filter(lines, l -> starts_with(trim(l), '•')
             |      OR starts_with(trim(l), '-') OR starts_with(trim(l), '*')))::DOUBLE
             |      / len(lines) AS bf,
             |    len(list_filter(lines, l -> ends_with(trim(l), '...')
             |      OR ends_with(trim(l), '…')))::DOUBLE / len(lines) AS ef,
             |    len(list_filter(toks, x -> regexp_matches(x, '\p{L}')))::DOUBLE
             |      / len(toks) AS af,
             |    len(list_filter(['the','be','to','of','and','that','have','with'],
             |      w -> list_contains(string_split_regex(trim(lower(text)), '\s+'), w)))
             |      AS hits
             |  FROM t)
             |SELECT doc_id, n::BIGINT AS n_words,
             |  round(mwl, 4) AS mean_word_len, round(symr, 4) AS symbol_ratio,
             |  round(bf, 4) AS bullet_line_frac, round(ef, 4) AS ellipsis_line_frac,
             |  round(af, 4) AS alpha_word_frac, hits::BIGINT AS n_stop_hits,
             |  (n BETWEEN 50 AND 100000) AND (mwl BETWEEN 3 AND 10)
             |    AND symr <= 0.1 AND bf <= 0.9 AND ef <= 0.3 AND af >= 0.8
             |    AND hits >= 2 AS pass
             |FROM s""".stripMargin),
      (s, dir) => graft.pipeline.QualityRules.gopherStats(
        t(s, dir, "documents"), "doc_id", "text")),

    // ---- sequence packing: global token offsets via the distributed
    //      two-phase prefix scan; the oracle's single unpartitioned
    //      window is exactly the plan the operator exists to avoid
    GraftQuery("q119_sequence_packing",
      Some("""WITH t AS (SELECT doc_id,
             |    len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_tokens
             |  FROM documents),
             |c AS (SELECT doc_id, n_tokens,
             |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
             |  FROM t)
             |-- window sum() is HUGEINT in DuckDB — cast to BIGINT so the
             |-- driver's typed compare sees int64 on both sides (HUGEINT
             |-- surfaces as float64 through pandas, Spark writes int64)
             |SELECT doc_id, n_tokens, o::BIGINT AS global_offset,
             |  (o // 1024)::BIGINT AS seq_id, (o % 1024)::BIGINT AS seq_pos
             |FROM c""".stripMargin),
      (s, dir) => graft.pipeline.Packing.pack(
        t(s, dir, "documents"), "doc_id", "text", seqLen = 1024)),

    // ---- temperature-α language rebalancing (XLM-R α-sampling): α=0.5,
    //      600-doc budget; md5 draw keeps the pick engine-reproducible
    GraftQuery("q120_temperature_mix",
      Some("""WITH n AS (SELECT lang, count(*)::DOUBLE AS n FROM documents GROUP BY lang),
             |s AS (SELECT sum(n) AS tot FROM n),
             |w AS (SELECT lang, n, sqrt(n / s.tot) AS w FROM n CROSS JOIN s),
             |z AS (SELECT sum(w) AS z FROM w),
             |r AS (SELECT lang, least(1.0, (w / z.z) * 600 / n) AS rate
             |  FROM w CROSS JOIN z),
             |u AS (SELECT doc_id, lang,
             |    ((('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 1000000)
             |      + 0.5) / 1000000.0 AS u
             |  FROM documents)
             |SELECT u.doc_id, u.lang FROM u JOIN r USING (lang)
             |WHERE u.u < r.rate""".stripMargin),
      (s, dir) => graft.pipeline.Mixing.temperatureSample(
          t(s, dir, "documents"), "doc_id", "lang", alpha = 0.5, budget = 600)
        .select(col("doc_id"), col("lang"))),

    // ---- SemDeDup semantic dedup (Abbas et al. 2023): k-means buckets →
    //      within-cluster cosine pairs → CC groups → keep most-central.
    //      Learned clusters aren't SQL-expressible → summary row; the
    //      twin-removal behavior is asserted in PipelineSpec
    GraftQuery("q121_semdedup", None,
      (s, dir) => graft.pipeline.SemDedup.semanticDedup(
          t(s, dir, "embeddings"), "vec_id", "embedding",
          eps = 0.9, nlist = 8)
        .agg(count(lit(1)).as("n_vecs"),
             sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
             countDistinct(col("sem_group")).as("n_groups"))),

    // ---- overlapping token chunking (RAG / context-window splitting):
    //      size 32, overlap 8 — map-only explode, oracle replays the
    //      same stride arithmetic with list slices
    GraftQuery("q122_chunking",
      Some("""WITH t AS (SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS toks FROM documents),
             |c AS (SELECT doc_id, g.i AS chunk_id,
             |    toks[g.i * 24 + 1 : g.i * 24 + 32] AS chunk
             |  FROM t, unnest(generate_series(0,
             |    greatest(1, ceil((len(toks) - 8) / 24.0)::INT) - 1)) AS g(i))
             |SELECT doc_id, chunk_id, array_to_string(chunk, ' ') AS chunk_text,
             |  len(chunk)::BIGINT AS n_chunk_tokens FROM c""".stripMargin),
      (s, dir) => TextAnalysis.chunk(
        t(s, dir, "documents"), "doc_id", "text", size = 32, overlap = 8)),

    // ---- model-based quality filter (GPT-3-style classifier curation):
    //      hashed-BoW logistic regression trained on a weak label over the
    //      80% split, scored on the 20% holdout; L-BFGS weights aren't
    //      SQL-expressible → held-out confusion matrix, accuracy asserted
    //      in PipelineSpec on a separable corpus
    GraftQuery("q123_quality_classifier", None,
      (s, dir) => {
        val docs = t(s, dir, "documents").withColumn("__lbl",
          array_contains(TextAnalysis.tokens(lower(col("text"))), "spark")
            .cast("int"))
        graft.pipeline.QualityClassifier.trainScore(
            docs, "doc_id", "text", "__lbl",
            trainFilter = col("doc_id") % 5 =!= 0, maxIter = 10)
          .join(docs.select(col("doc_id"), (col("doc_id") % 5 === 0).as("__ho")), "doc_id")
          .filter(col("__ho"))
          .groupBy(col("label"), (col("quality_prob") > 0.5).as("predicted"))
          .agg(count(lit(1)).as("n"))
          .orderBy("label", "predicted")
      }),

    // ---- multimodal plumbing: binary payload + per-partition feature
    //      extraction (codec STUBBED; Spark-side schema/batching real)
    GraftQuery("q65_multimodal_features",
      Some("""SELECT doc_id AS media_id,
             |  CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
             |  CAST(strlen(text) AS BIGINT) AS n_bytes
             |FROM documents""".stripMargin),
      (s, dir) => {
        val media = Multimodal.fromDocuments(s, t(s, dir, "documents"))
        Multimodal.extractFeatures(media)
          .select(col("media_id"), col("kind"), col("n_bytes"))
      }),

    // ---- multimodal resize + frame-sampling geometry: the codec is
    //      stubbed (strided byte resampling) but every offset/length is
    //      integer-deterministic, so the full resize -> evenly-spaced
    //      chunk-sample access pattern is hash-checked end-to-end.
    GraftQuery("q201_multimodal_resize_sample",
      Some("""WITH m AS (SELECT doc_id AS media_id, strlen(text) AS len,
             |    (doc_id % 640 + 64) * (doc_id % 480 + 48) AS area FROM documents),
             |r AS (SELECT media_id,
             |    least(greatest(1, len * 4096 // area), greatest(len, 1)) AS rlen FROM m),
             |c AS (SELECT media_id, rlen, g.i AS chunk_idx,
             |    least(rlen * g.i // 4, greatest(0, rlen - 1)) AS off
             |  FROM r CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) g(i))
             |SELECT media_id, chunk_idx::INT AS chunk_idx, off::BIGINT AS "offset",
             |  (least(off + 16, rlen) - off)::BIGINT AS chunk_len
             |FROM c""".stripMargin),
      (s, dir) => {
        val media = Multimodal.fromDocuments(s, t(s, dir, "documents"))
        Multimodal.sampleChunks(Multimodal.resize(media, 64, 64),
            n = 4, chunkBytes = 16)
          .select(col("media_id"), col("chunk_idx"), col("offset"),
            length(col("chunk")).cast("long").as("chunk_len"))
      }),

    // ---- per-shard sequence packing (Sharding.packShards): the trainer
    //      input layout — docs in shuffle order within their shard, laid
    //      end-to-end, cut every 512 tokens. Running offsets are one
    //      window per shard: sequential within (trainer semantics),
    //      parallel across. Integer arithmetic end-to-end: hash-checked.
    GraftQuery("q202_shard_packing",
      Some("""WITH k AS (SELECT doc_id, text,
             |    md5('g4' || doc_id::VARCHAR) AS key FROM documents),
             |r AS (SELECT doc_id, text,
             |    row_number() OVER (ORDER BY key) - 1 AS seq,
             |    count(*) OVER () AS n FROM k),
             |a AS (SELECT doc_id, seq, ((seq * 16) // n)::INT AS shard,
             |    len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_tokens
             |  FROM r),
             |o AS (SELECT *, (sum(n_tokens) OVER (PARTITION BY shard ORDER BY seq
             |    ROWS UNBOUNDED PRECEDING) - n_tokens)::BIGINT AS shard_offset FROM a)
             |SELECT shard, doc_id, seq::BIGINT AS seq, n_tokens, shard_offset,
             |  (shard_offset // 512)::BIGINT AS seq_id,
             |  (shard_offset % 512)::BIGINT AS seq_pos
             |FROM o""".stripMargin),
      (s, dir) => graft.pipeline.Sharding.packShards(
        t(s, dir, "documents"), "doc_id", "text",
        salt = "g4", nShards = 16, seqLen = 512)),

    // ---- hybrid retrieval: BM25 top-100 ∪ dense-cosine top-100 fused by
    //      Reciprocal Rank Fusion (rank-based, no score calibration)
    GraftQuery("q160_hybrid_rrf",
      Some("""WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
             |d AS (SELECT doc_id, toks, len(toks)::DOUBLE AS dl FROM t),
             |s AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl,
             |  sum(CASE WHEN list_contains(toks, 'hash') THEN 1 ELSE 0 END)::DOUBLE AS dfa,
             |  sum(CASE WHEN list_contains(toks, 'stream') THEN 1 ELSE 0 END)::DOUBLE AS dfb,
             |  sum(CASE WHEN list_contains(toks, 'window') THEN 1 ELSE 0 END)::DOUBLE AS dfc FROM d),
             |tf AS (SELECT doc_id, dl,
             |  len(list_filter(toks, x -> x = 'hash'))::DOUBLE AS tfa,
             |  len(list_filter(toks, x -> x = 'stream'))::DOUBLE AS tfb,
             |  len(list_filter(toks, x -> x = 'window'))::DOUBLE AS tfc FROM d),
             |bm AS (SELECT doc_id,
             |    ln((n - dfa + 0.5)/(dfa + 0.5) + 1) * (tfa*2.2)/(tfa + 1.2*(0.25 + 0.75*dl/avgdl))
             |  + ln((n - dfb + 0.5)/(dfb + 0.5) + 1) * (tfb*2.2)/(tfb + 1.2*(0.25 + 0.75*dl/avgdl))
             |  + ln((n - dfc + 0.5)/(dfc + 0.5) + 1) * (tfc*2.2)/(tfc + 1.2*(0.25 + 0.75*dl/avgdl)) AS raw
             |  FROM tf CROSS JOIN s),
             |bmr AS (SELECT doc_id, row_number() OVER (ORDER BY raw DESC, doc_id) AS r
             |        FROM bm ORDER BY raw DESC, doc_id LIMIT 100),
             |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
             |dn AS (SELECT vec_id AS doc_id,
             |         list_inner_product(embedding::DOUBLE[], qv)
             |           / (sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]))
             |              * sqrt(list_inner_product(qv, qv))) AS raw
             |       FROM embeddings, q),
             |dnr AS (SELECT doc_id, row_number() OVER (ORDER BY raw DESC, doc_id) AS r
             |        FROM dn ORDER BY raw DESC, doc_id LIMIT 100),
             |fused AS (SELECT coalesce(b.doc_id, v.doc_id) AS doc_id,
             |    coalesce(1.0/(60 + b.r), 0) + coalesce(1.0/(60 + v.r), 0) AS rrf
             |  FROM bmr b FULL OUTER JOIN dnr v ON b.doc_id = v.doc_id)
             |SELECT doc_id, round(rrf, 6) AS rrf_score
             |FROM fused ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin),
      (s, dir) => graft.pipeline.Retrieval.hybridRrf(
        t(s, dir, "documents"), t(s, dir, "embeddings"),
        "doc_id", "text", "vec_id", "embedding",
        Seq("hash", "stream", "window"), queryVec(s, dir),
        n = 100, k = 20)),

    // ---- contrastive hard-negative mining: per anchor, top-5 most-similar
    //      vectors with a different label (broadcast anchors, map-side
    //      scoring, WindowGroupLimit per-anchor top-k)
    GraftQuery("q161_hard_negatives",
      Some("""WITH a AS (SELECT vec_id AS anchor_id, embedding::DOUBLE[] AS av, label AS al
             |           FROM embeddings WHERE vec_id < 3),
             |s AS (SELECT anchor_id, c.vec_id,
             |        list_inner_product(c.embedding::DOUBLE[], av)
             |          / (sqrt(list_inner_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))
             |             * sqrt(list_inner_product(av, av))) AS raw
             |      FROM a JOIN embeddings c ON c.label <> a.al),
             |r AS (SELECT *, row_number() OVER (PARTITION BY anchor_id ORDER BY raw DESC, vec_id) AS rn
             |      FROM s)
             |SELECT anchor_id, rn AS rank, vec_id, round(raw, 4) AS cosine
             |FROM r WHERE rn <= 5""".stripMargin),
      (s, dir) => graft.pipeline.Retrieval.hardNegatives(
        t(s, dir, "embeddings"), "vec_id", "embedding", "label",
        col("vec_id") < 3, k = 5)),

    // ---- deterministic hash split: reproducible train/val/test assignment
    //      (md5-bucketed, layout- and engine-independent), audited per lang
    GraftQuery("q162_hash_split",
      Some("""WITH b AS (SELECT ('0x' || substr(md5(doc_id::VARCHAR || ':split'), 1, 8))::BIGINT % 100 AS bkt,
             |                  lang, n_chars FROM documents)
             |SELECT CASE WHEN bkt < 80 THEN 'train' WHEN bkt < 90 THEN 'val' ELSE 'test' END AS split,
             |       lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars
             |FROM b GROUP BY 1, 2""".stripMargin),
      (s, dir) => t(s, dir, "documents")
        .withColumn("split", TextAnalysis.hashSplit(col("doc_id")))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))),

    // ---- MMR diversified rerank over the dense top-20 candidates: greedy
    //      λ·rel − μ·maxsim selection, replayed in SQL by a recursive CTE
    //      carrying the selected-id list
    GraftQuery("q163_mmr_diversify",
      Some("""WITH RECURSIVE q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
             |cand AS (
             |  SELECT vec_id, embedding::DOUBLE[] AS v,
             |         list_inner_product(embedding::DOUBLE[], qv)
             |           / (sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]))
             |              * sqrt(list_inner_product(qv, qv))) AS rel
             |  FROM embeddings, q WHERE vec_id <> 0
             |  ORDER BY rel DESC, vec_id LIMIT 20),
             |pairs AS (
             |  SELECT a.vec_id AS ia, b.vec_id AS ib,
             |         list_inner_product(a.v, b.v)
             |           / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))) AS sim
             |  FROM cand a, cand b),
             |sel AS (
             |  SELECT 1 AS step,
             |         [(SELECT vec_id FROM cand ORDER BY rel DESC, vec_id LIMIT 1)] AS ids
             |  UNION ALL
             |  SELECT step + 1, list_append(ids, (
             |      SELECT c.vec_id FROM cand c
             |      WHERE NOT list_contains(ids, c.vec_id)
             |      ORDER BY 0.7 * c.rel - 0.3 * (
             |          SELECT max(p.sim) FROM pairs p
             |          WHERE p.ia = c.vec_id AND list_contains(ids, p.ib)) DESC,
             |        c.vec_id
             |      LIMIT 1))
             |  FROM sel WHERE step < 10),
             |final AS (SELECT ids FROM sel WHERE step = 10)
             |SELECT g.i AS rank, ids[g.i] AS vec_id,
             |       round((SELECT rel FROM cand WHERE vec_id = ids[g.i]), 4) AS rel
             |FROM final, (SELECT unnest(generate_series(1, 10)) AS i) g(i)""".stripMargin),
      (s, dir) => graft.pipeline.Retrieval.mmrRerank(
        t(s, dir, "embeddings"), "vec_id", "embedding", queryVec(s, dir),
        n = 20, k = 10, excludeId = Some(0L))),

    // ---- embedding-space ranking eval: recall@10 / MRR@10 / nDCG@10 with
    //      label-match relevance; DCG uses an integer weight table so the
    //      sum is exact (run-order independent) on both engines
    GraftQuery("q166_retrieval_metrics",
      Some("""WITH a AS (SELECT vec_id AS aid, embedding::DOUBLE[] AS av, label AS al
             |           FROM embeddings WHERE vec_id < 10),
             |s AS (SELECT aid, al, c.vec_id AS cid, c.label AS cl,
             |        list_inner_product(c.embedding::DOUBLE[], av)
             |          / (sqrt(list_inner_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))
             |             * sqrt(list_inner_product(av, av))) AS raw
             |      FROM a JOIN embeddings c ON c.vec_id <> a.aid),
             |r AS (SELECT *, row_number() OVER (PARTITION BY aid ORDER BY raw DESC, cid) AS rn
             |      FROM s),
             |g AS (SELECT aid,
             |        sum(CASE WHEN cl = al THEN 1 ELSE 0 END) AS n_rel,
             |        sum(CASE WHEN cl = al AND rn <= 10 THEN 1 ELSE 0 END) AS hits,
             |        coalesce(max(CASE WHEN cl = al AND rn <= 10
             |          THEN 1.0::DOUBLE / rn END), 0) AS mrr,
             |        sum(CASE WHEN cl = al AND rn <= 10
             |          THEN ([1000000,630930,500000,430677,386853,356207,333333,315465,301030,289065])[rn]
             |          ELSE 0 END) AS dcg
             |      FROM r GROUP BY 1)
             |SELECT aid AS anchor_id, n_rel::BIGINT AS n_rel,
             |  round(hits::DOUBLE / least(10, n_rel), 4) AS recall,
             |  round(mrr, 4) AS mrr,
             |  round(dcg::DOUBLE / list_sum(list_slice(
             |    [1000000,630930,500000,430677,386853,356207,333333,315465,301030,289065],
             |    1, least(10, n_rel)::INT)), 4) AS ndcg
             |FROM g""".stripMargin),
      (s, dir) => graft.pipeline.Retrieval.rankingMetrics(
        t(s, dir, "embeddings"), "vec_id", "embedding", "label",
        col("vec_id") < 10, k = 10)),

    // ---- int8 symmetric scalar quantization audit: per-vector scale,
    //      clipped-component count, and original-vs-reconstruction cosine
    //      (map-only; 4x compression quality gate)
    GraftQuery("q167_int8_quantize",
      Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
             |s AS (SELECT vec_id, e,
             |        list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale FROM v),
             |qz AS (SELECT vec_id, e, scale,
             |         list_transform(e, x -> greatest(-127, least(127,
             |           floor(x / scale + 0.5)))) AS codes,
             |         len(list_filter(e, x -> abs(floor(x / scale + 0.5)) > 127)) AS n_clip
             |       FROM s),
             |rec AS (SELECT vec_id, e, scale, n_clip,
             |          list_transform(codes, c -> c * scale) AS r FROM qz)
             |SELECT vec_id, round(scale, 6) AS scale, n_clip,
             |  round(list_inner_product(e, r)
             |    / (sqrt(list_inner_product(e, e)) * sqrt(list_inner_product(r, r))), 6)
             |    AS cos_sim
             |FROM rec""".stripMargin),
      (s, dir) => graft.pipeline.Quantize.int8Symmetric(
          t(s, dir, "embeddings"), "vec_id", "embedding")
        .select(col("vec_id"), round(col("scale"), 6).as("scale"),
          col("n_clip"), round(col("cos_sim"), 6).as("cos_sim"))),

    // ---- corpus data card: the per-(source, lang) release-documentation
    //      stats (docs, tokens, char spread, vocabulary) — counts and exact
    //      integer sums only, so the report is engine-reproducible
    GraftQuery("q172_corpus_datacard",
      Some("""WITH base AS (
             |  SELECT source, lang, count(*) AS n_docs,
             |    sum(len(string_split_regex(trim(text), '\s+')))::BIGINT AS total_tokens,
             |    min(n_chars) AS min_chars, max(n_chars) AS max_chars,
             |    round(avg(n_chars), 2) AS avg_chars
             |  FROM documents GROUP BY 1, 2),
             |uniq AS (
             |  SELECT source, lang, count(DISTINCT tok) AS n_uniq_tokens
             |  FROM (SELECT source, lang,
             |          unnest(string_split_regex(trim(text), '\s+')) AS tok
             |        FROM documents)
             |  GROUP BY 1, 2)
             |SELECT base.*, uniq.n_uniq_tokens
             |FROM base JOIN uniq USING (source, lang)""".stripMargin),
      (s, dir) => {
        val d = t(s, dir, "documents")
        val base = d.groupBy("source", "lang").agg(
          count(lit(1)).as("n_docs"),
          sum(tokenCount(col("text"))).as("total_tokens"),
          min("n_chars").as("min_chars"), max("n_chars").as("max_chars"),
          round(avg("n_chars"), 2).as("avg_chars"))
        val uniq = d.select(col("source"), col("lang"),
            explode(split(trim(col("text")), "\\s+")).as("tok"))
          .groupBy("source", "lang").agg(countDistinct("tok").as("n_uniq_tokens"))
        base.join(uniq, Seq("source", "lang"))
      }),

    // ---- length-grouped batching audit: pow-2 length buckets, salted-md5
    //      deterministic shuffle, batchSize=32 cuts; per-batch padding
    //      waste (distributed prefix scan — no per-bucket single reducer)
    GraftQuery("q175_length_batching",
      Some("""WITH tok AS (SELECT doc_id,
             |    len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_tokens
             |  FROM documents),
             |b AS (SELECT doc_id, n_tokens,
             |    length(bin(n_tokens))::BIGINT AS len_bucket,
             |    md5(doc_id::VARCHAR || ':batch') AS h FROM tok),
             |r AS (SELECT *, row_number() OVER (PARTITION BY len_bucket
             |    ORDER BY h, doc_id) - 1 AS idx FROM b)
             |SELECT len_bucket, idx // 32 AS batch_id, count(*) AS n_seqs,
             |  min(n_tokens) AS min_len, max(n_tokens) AS max_len,
             |  sum(n_tokens)::BIGINT AS sum_tokens,
             |  (count(*) * max(n_tokens) - sum(n_tokens))::BIGINT AS padding_waste
             |FROM r GROUP BY 1, 2""".stripMargin),
      (s, dir) => graft.pipeline.Packing.lengthGroupedBatches(
        t(s, dir, "documents"), "doc_id", "text", batchSize = 32)),

    // ---- Bloom-prefiltered decontamination: bit-identical to q80 (the
    //      bloom's false positives are removed by the exact verify join,
    //      so the SAME oracle hash-checks it) while the broadcast probe
    //      sees only the ~FPP fraction of corpus grams — the shape for
    //      benchmark sets too large to broadcast as exact hash sets.
    GraftQuery("q183_bloom_decontaminate",
      Some("""WITH tok AS (SELECT doc_id,
             |    string_split_regex(trim(lower(text)), '\s+') AS ts
             |  FROM documents),
             |grams AS (
             |  SELECT doc_id,
             |    CASE WHEN len(ts) >= 8 THEN array_to_string(ts[g.i:g.i+7], ' ')
             |         ELSE array_to_string(ts, ' ') END AS gram
             |  FROM tok CROSS JOIN LATERAL
             |    (SELECT unnest(range(1, greatest(len(ts)-7, 1)+1)) AS i) g),
             |bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 7 = 0)
             |SELECT doc_id, count(DISTINCT gram) AS n_hits
             |FROM grams
             |WHERE doc_id % 7 <> 0 AND gram IN (SELECT gram FROM bench)
             |GROUP BY doc_id""".stripMargin),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Decontaminate.bloomContaminated(
          docs.filter(col("doc_id") % 7 =!= 0), "doc_id", "text",
          docs.filter(col("doc_id") % 7 === 0), "text", n = 8)
      }),

    // ---- end-to-end corpus cleaning (pipeline/CleanCorpus): exact dedup
    //      -> Gopher rules -> benchmark decontamination, the deterministic
    //      stage chain composed and oracle-checked as ONE query.
    GraftQuery("q188_clean_corpus",
      Some("""WITH corpus AS (SELECT min(doc_id) AS doc_id, text
             |  FROM documents WHERE doc_id % 7 <> 0 GROUP BY text),
             |t AS (SELECT doc_id, text,
             |    string_split_regex(trim(text), '\s+') AS toks,
             |    string_split(text, chr(10)) AS lines FROM corpus),
             |s AS (SELECT doc_id, text,
             |    len(toks)::DOUBLE AS n,
             |    list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks) AS mwl,
             |    ((length(text) - length(replace(text, '#', '')))
             |      + (length(text) - length(replace(text, '...', ''))) // 3)::DOUBLE
             |      / len(toks) AS symr,
             |    len(list_filter(lines, l -> starts_with(trim(l), '•')
             |      OR starts_with(trim(l), '-') OR starts_with(trim(l), '*')))::DOUBLE
             |      / len(lines) AS bf,
             |    len(list_filter(lines, l -> ends_with(trim(l), '...')
             |      OR ends_with(trim(l), '…')))::DOUBLE / len(lines) AS ef,
             |    len(list_filter(toks, x -> regexp_matches(x, '\p{L}')))::DOUBLE
             |      / len(toks) AS af,
             |    len(list_filter(['the','be','to','of','and','that','have','with'],
             |      w -> list_contains(string_split_regex(trim(lower(text)), '\s+'), w)))
             |      AS hits
             |  FROM t),
             |q AS (SELECT doc_id, text, n::BIGINT AS n_words FROM s
             |  WHERE (n BETWEEN 50 AND 100000) AND (mwl BETWEEN 3 AND 10)
             |    AND symr <= 0.1 AND bf <= 0.9 AND ef <= 0.3 AND af >= 0.8
             |    AND hits >= 2),
             |tok AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ts
             |  FROM q),
             |grams AS (SELECT doc_id,
             |    CASE WHEN len(ts) >= 8 THEN array_to_string(ts[g.i:g.i+7], ' ')
             |         ELSE array_to_string(ts, ' ') END AS gram
             |  FROM tok CROSS JOIN LATERAL
             |    (SELECT unnest(range(1, greatest(len(ts)-7, 1)+1)) AS i) g),
             |btok AS (SELECT string_split_regex(trim(lower(text)), '\s+') AS ts
             |  FROM documents WHERE doc_id % 7 = 0),
             |bgrams AS (SELECT DISTINCT
             |    CASE WHEN len(ts) >= 8 THEN array_to_string(ts[g.i:g.i+7], ' ')
             |         ELSE array_to_string(ts, ' ') END AS gram
             |  FROM btok CROSS JOIN LATERAL
             |    (SELECT unnest(range(1, greatest(len(ts)-7, 1)+1)) AS i) g),
             |contam AS (SELECT DISTINCT doc_id FROM grams
             |  WHERE gram IN (SELECT gram FROM bgrams))
             |SELECT q.doc_id, q.n_words FROM q
             |WHERE q.doc_id NOT IN (SELECT doc_id FROM contam)""".stripMargin),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.pipeline.CleanCorpus.clean(
          docs.filter(col("doc_id") % 7 =!= 0), "doc_id", "text",
          docs.filter(col("doc_id") % 7 === 0), "text", n = 8)
      }),

    // ---- winnowing fingerprints (pipeline/Winnow — Schleimer et al. 2003,
    //      the MOSS algorithm): k=5 char grams hashed with the portable
    //      md5-prefix integer, windows of w=8, rightmost-minimum selection.
    //      The oracle materializes every window and ranks (h ASC, pos DESC)
    //      — the same selection the operator's one window pass computes.
    GraftQuery("q194_winnow_fingerprints",
      Some("""WITH d AS (SELECT doc_id, text, length(text) - 4 AS n
             |  FROM documents WHERE length(text) >= 12),
             |g AS (SELECT doc_id, i.i AS pos, n,
             |    ('0x' || substr(md5(substr(text, i.i::INT, 5)), 1, 15))::BIGINT AS h
             |  FROM d CROSS JOIN LATERAL
             |    (SELECT unnest(generate_series(1, n)) AS i) i),
             |w AS (SELECT doc_id, pos - o.off AS ws, pos, h
             |  FROM g CROSS JOIN LATERAL
             |    (SELECT unnest(generate_series(0, 7)) AS off) o
             |  WHERE pos - o.off >= 1 AND pos - o.off <= n - 7),
             |r AS (SELECT doc_id, ws, pos, h, row_number() OVER (
             |    PARTITION BY doc_id, ws ORDER BY h ASC, pos DESC) AS rk FROM w)
             |SELECT DISTINCT doc_id, pos::BIGINT AS pos, h AS fp
             |FROM r WHERE rk = 1""".stripMargin),
      (s, dir) => graft.pipeline.Winnow.fingerprints(
        t(s, dir, "documents"), "doc_id", "text", k = 5, w = 8)),

    // ---- MOSS clone detection (pipeline/Winnow.similarPairs): doc pairs
    //      sharing >= 3 distinct informative winnowing fingerprints, with
    //      MOSS's ignore-ubiquitous-matches cap at 20 docs (the synthetic
    //      small-vocab fixture yields only ~726 distinct fingerprints, the
    //      hottest in 78% of docs — exactly the boilerplate case the cap
    //      exists for). Equi-join on the fingerprint hash — bounded at
    //      O(maxDf²) pairs per fingerprint, candidate rows carry ids only.
    GraftQuery("q196_winnow_similarity",
      Some("""WITH d AS (SELECT doc_id, text, length(text) - 4 AS n
             |  FROM documents WHERE length(text) >= 12),
             |g AS (SELECT doc_id, i.i AS pos, n,
             |    ('0x' || substr(md5(substr(text, i.i::INT, 5)), 1, 15))::BIGINT AS h
             |  FROM d CROSS JOIN LATERAL
             |    (SELECT unnest(generate_series(1, n)) AS i) i),
             |w AS (SELECT doc_id, pos - o.off AS ws, pos, h
             |  FROM g CROSS JOIN LATERAL
             |    (SELECT unnest(generate_series(0, 7)) AS off) o
             |  WHERE pos - o.off >= 1 AND pos - o.off <= n - 7),
             |r AS (SELECT doc_id, ws, h, row_number() OVER (
             |    PARTITION BY doc_id, ws ORDER BY h ASC, pos DESC) AS rk FROM w),
             |fp AS (SELECT DISTINCT doc_id, h FROM r WHERE rk = 1),
             |keep AS (SELECT doc_id, h FROM (SELECT doc_id, h,
             |    count(*) OVER (PARTITION BY h) AS df FROM fp) WHERE df <= 20)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
             |FROM keep a JOIN keep b ON a.h = b.h AND a.doc_id < b.doc_id
             |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin),
      (s, dir) => graft.pipeline.Winnow.similarPairs(
        t(s, dir, "documents"), "doc_id", "text", k = 5, w = 8,
        minShared = 3, maxDocFreq = Some(20))),

    // ---- deterministic corpus shuffle + size-balanced shard manifest
    //      (pipeline/Sharding): md5-keyed global order via the two-phase
    //      prefix scan (no single-reducer row_number), contiguous rank
    //      blocks as shards (exact ±1 balance, unlike modulo hashing).
    //      md5 is engine-portable, so the whole layout is hash-checkable.
    GraftQuery("q197_shard_manifest",
      Some("""WITH k AS (SELECT doc_id, text,
             |    md5('g4' || doc_id::VARCHAR) AS key FROM documents),
             |r AS (SELECT doc_id, text,
             |    row_number() OVER (ORDER BY key) - 1 AS seq,
             |    count(*) OVER () AS n FROM k)
             |SELECT ((seq * 16) // n)::INT AS shard,
             |  count(*) AS n_docs,
             |  sum(len(string_split_regex(trim(text), '\s+')))::BIGINT AS total_tokens,
             |  min(seq)::BIGINT AS min_seq, max(seq)::BIGINT AS max_seq
             |FROM r GROUP BY 1""".stripMargin),
      (s, dir) => graft.pipeline.Sharding.manifest(
        t(s, dir, "documents"), "doc_id", "text", salt = "g4", nShards = 16)),

    // ---- curriculum sharding (Sharding.curriculum): global rank by
    //      (difficulty asc, id) via the two-phase scan, contiguous rank
    //      blocks as shards — shard 0 easiest → last shard hardest, sizes
    //      exact (±1). Difficulty = whitespace token count (the standard
    //      length curriculum); all integers, fully oracle-checkable.
    GraftQuery("q220_curriculum_shards",
      Some("""WITH d AS (SELECT doc_id,
             |    len(string_split_regex(trim(text), '\s+')) AS t FROM documents),
             |r AS (SELECT doc_id, t,
             |    row_number() OVER (ORDER BY t, doc_id) - 1 AS seq,
             |    count(*) OVER () AS n FROM d)
             |SELECT ((seq * 8) // n)::INT AS shard, count(*) AS n_docs,
             |  min(t)::BIGINT AS min_tokens, max(t)::BIGINT AS max_tokens,
             |  sum(t)::BIGINT AS total_tokens
             |FROM r GROUP BY 1""".stripMargin),
      (s, dir) => graft.pipeline.Sharding.curriculum(
          t(s, dir, "documents")
            .withColumn("__t", TextAnalysis.tokenCount(col("text")).cast("long")),
          "doc_id", col("__t"), nShards = 8)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          min("__t").as("min_tokens"), max("__t").as("max_tokens"),
          sum("__t").as("total_tokens"))),

    // ---- dataset drift between snapshots (pipeline/Drift): per-column
    //      fingerprints (rows/nulls/distincts) of two halves of the corpus
    //      joined with integer deltas — the release-gate diff. One
    //      aggregation pass per snapshot, per-column result rows only.
    GraftQuery("q223_dataset_drift",
      Some("""WITH b AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
             |c AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
             |pb AS (
             |  SELECT 'lang' AS col, count(*) AS n_rows,
             |    count(*) - count(lang) AS n_null,
             |    count(DISTINCT lang) AS n_distinct FROM b
             |  UNION ALL SELECT 'source', count(*), count(*) - count(source),
             |    count(DISTINCT source) FROM b
             |  UNION ALL SELECT 'n_chars', count(*), count(*) - count(n_chars),
             |    count(DISTINCT n_chars) FROM b),
             |pc AS (
             |  SELECT 'lang' AS col, count(*) AS n_rows,
             |    count(*) - count(lang) AS n_null,
             |    count(DISTINCT lang) AS n_distinct FROM c
             |  UNION ALL SELECT 'source', count(*), count(*) - count(source),
             |    count(DISTINCT source) FROM c
             |  UNION ALL SELECT 'n_chars', count(*), count(*) - count(n_chars),
             |    count(DISTINCT n_chars) FROM c)
             |SELECT pb.col AS "column",
             |  pb.n_rows::BIGINT AS base_rows, pc.n_rows::BIGINT AS cur_rows,
             |  pb.n_null::BIGINT AS base_null, pc.n_null::BIGINT AS cur_null,
             |  pb.n_distinct::BIGINT AS base_distinct,
             |  pc.n_distinct::BIGINT AS cur_distinct,
             |  (pc.n_rows - pb.n_rows)::BIGINT AS d_rows,
             |  (pc.n_distinct - pb.n_distinct)::BIGINT AS d_distinct
             |FROM pb JOIN pc ON pb.col = pc.col""".stripMargin),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.pipeline.Drift.drift(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          Seq("lang", "source", "n_chars"))
      }),

    // ---- PSI distribution drift (Drift.psi): equi-width bins over the
    //      BASELINE range (edge-clamped), (p_c−p_b)·ln(p_c/p_b) per bin,
    //      total = Σ of the FLOORED 1e-6 terms (integer sum — run-order
    //      independent; the kernel-identical float ops make the per-bin
    //      terms bit-equal across engines).
    GraftQuery("q224_psi_drift",
      Some("""WITH b AS (SELECT "value"::DOUBLE AS v FROM events WHERE event_id % 2 = 0),
             |c AS (SELECT "value"::DOUBLE AS v FROM events WHERE event_id % 2 = 1),
             |r AS (SELECT min(v) AS lo, max(v) AS hi FROM b),
             |bb AS (SELECT least(greatest(
             |    floor((v - lo) / ((hi - lo) / 10)), 0), 9)::BIGINT AS bin,
             |    count(*) AS n FROM b, r GROUP BY 1),
             |cb AS (SELECT least(greatest(
             |    floor((v - lo) / ((hi - lo) / 10)), 0), 9)::BIGINT AS bin,
             |    count(*) AS n FROM c, r GROUP BY 1),
             |g AS (SELECT unnest(generate_series(0, 9)) AS bin),
             |j AS (SELECT g.bin, coalesce(bb.n, 0)::BIGINT AS nb,
             |    coalesce(cb.n, 0)::BIGINT AS nc
             |  FROM g LEFT JOIN bb ON g.bin = bb.bin LEFT JOIN cb ON g.bin = cb.bin),
             |tot AS (SELECT sum(nb)::DOUBLE AS bn, sum(nc)::DOUBLE AS cn FROM j),
             |t AS (SELECT bin, nb, nc,
             |    floor((greatest(nc / cn, 1e-6) - greatest(nb / bn, 1e-6))
             |      * ln(greatest(nc / cn, 1e-6) / greatest(nb / bn, 1e-6))
             |      * 1000000)::BIGINT AS term_1e6
             |  FROM j, tot)
             |SELECT bin::INT AS bin, nb AS base_n, nc AS cur_n, term_1e6,
             |  (SELECT sum(term_1e6) FROM t)::BIGINT AS psi_1e6
             |FROM t""".stripMargin),
      (s, dir) => {
        val ev = t(s, dir, "events")
        graft.pipeline.Drift.psi(
          ev.filter(col("event_id") % 2 === 0),
          ev.filter(col("event_id") % 2 === 1),
          "value", nBins = 10)
      }),

    // ---- incremental exact dedup against a persisted content-hash index
    //      (pipeline/Incremental): the corpus is indexed once (md5 set);
    //      an incoming batch = 50 replayed docs (new ids, same bytes) +
    //      50 modified docs. The anti-join must drop exactly the replays.
    GraftQuery("q198_incremental_exact",
      Some("""WITH idx AS (SELECT DISTINCT md5(text) AS h FROM documents),
             |incoming AS (
             |  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id < 50
             |  UNION ALL
             |  SELECT doc_id + 20000, text || ' updated' FROM documents
             |  WHERE doc_id >= 50 AND doc_id < 100)
             |SELECT doc_id, length(text)::BIGINT AS n_chars FROM incoming
             |WHERE md5(text) NOT IN (SELECT h FROM idx)""".stripMargin),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val idx = graft.pipeline.Incremental.exactIndex(docs, "text")
        val incoming = docs.filter(col("doc_id") < 50)
          .select((col("doc_id") + 10000).as("doc_id"), col("text"))
          .unionAll(docs.filter(col("doc_id") >= 50 && col("doc_id") < 100)
            .select((col("doc_id") + 20000).as("doc_id"),
              concat(col("text"), lit(" updated")).as("text")))
        graft.pipeline.Incremental.filterNewExact(idx, incoming, "text")
          .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
      }),

    // ---- incremental NEAR-dup dedup against the signature index: batch =
    //      50 lightly-edited replays (one appended token — near-dups of
    //      indexed docs) + the 50 highest-id docs as stand-ins for fresh
    //      content (corpus index stops at doc_id < 250). Signature
    //      agreement is minhash-dependent (rows-only); PipelineSpec binds
    //      planted recall and clean-batch pass-through.
    GraftQuery("q199_incremental_near_dup",
      // hash-checked since round 5: md5-portable minhash (q55 note) lets
      // the oracle rebuild BOTH the corpus signature index and the batch
      // signatures, replay the band join + slot-agreement verify (÷64 is
      // exact in binary), and re-derive the surviving batch
      Some("""WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id < 250),
             |inc AS (
             |  SELECT doc_id + 10000 AS doc_id, text || ' zq' AS text
             |  FROM documents WHERE doc_id < 50
             |  UNION ALL
             |  SELECT doc_id + 20000, text
             |  FROM documents WHERE doc_id >= 250 AND doc_id < 300),
             |allv AS (SELECT 'c' AS sd, doc_id, text FROM corpus
             |  UNION ALL SELECT 'i', doc_id, text FROM inc),
             |t AS (SELECT sd, doc_id,
             |    string_split_regex(trim(text), '\s+') AS toks FROM allv),
             |sh AS (
             |  SELECT sd, doc_id, toks[i.i] || ' ' || toks[i.i+1] || ' ' || toks[i.i+2] AS s
             |  FROM t, unnest(generate_series(1, len(toks) - 2)) i(i)
             |  WHERE len(toks) >= 3
             |  UNION
             |  SELECT sd, doc_id, array_to_string(toks, ' ') FROM t WHERE len(toks) < 3),
             |hs AS (SELECT sd, doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM sh),
             |co AS (SELECT j.j,
             |    2 * ('0x' || substr(md5('mh:a:' || j.j), 1, 7))::BIGINT + 1 AS a,
             |    ('0x' || substr(md5('mh:b:' || j.j), 1, 15))::BIGINT AS b
             |  FROM generate_series(0, 63) j(j)),
             |mins AS (SELECT sd, doc_id, j,
             |    min((a::HUGEINT * h + b) % 18446744073709551616) AS m
             |  FROM hs CROSS JOIN co GROUP BY sd, doc_id, j),
             |bk AS (SELECT sd, doc_id, j // 4 AS band,
             |    md5(string_agg(m::VARCHAR, ',' ORDER BY j)) AS key
             |  FROM mins GROUP BY sd, doc_id, j // 4),
             |cand AS (SELECT DISTINCT i.doc_id AS iid, c.doc_id AS cid
             |  FROM bk i JOIN bk c ON i.band = c.band AND i.key = c.key
             |  WHERE i.sd = 'i' AND c.sd = 'c'),
             |agr AS (SELECT cand.iid, cand.cid,
             |    sum(CASE WHEN mi.m = mc.m THEN 1 ELSE 0 END) / 64.0 AS agree
             |  FROM cand
             |  JOIN mins mi ON mi.sd = 'i' AND mi.doc_id = cand.iid
             |  JOIN mins mc ON mc.sd = 'c' AND mc.doc_id = cand.cid AND mc.j = mi.j
             |  GROUP BY 1, 2),
             |dup AS (SELECT DISTINCT iid FROM agr WHERE agree >= 0.8)
             |SELECT count(*)::BIGINT AS n_new, min(doc_id)::BIGINT AS min_id,
             |  max(doc_id)::BIGINT AS max_id
             |FROM inc WHERE doc_id NOT IN (SELECT iid FROM dup)""".stripMargin),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // the index is a PERSISTED artifact in real use — pin it so the
        // query joins against materialized signatures, not a re-derivation
        val idx = graft.pipeline.Incremental.signatureIndex(
          docs.filter(col("doc_id") < 250), "doc_id", "text").localCheckpoint()
        val incoming = docs.filter(col("doc_id") < 50)
          .select((col("doc_id") + 10000).as("doc_id"),
            concat(col("text"), lit(" zq")).as("text"))
          .unionAll(docs.filter(col("doc_id") >= 250 && col("doc_id") < 300)
            .select((col("doc_id") + 20000).as("doc_id"), col("text")))
        graft.pipeline.Incremental.filterNewNear(idx, incoming, "doc_id", "text")
          .agg(count(lit(1)).as("n_new"),
            min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      }),

    // ---- the release pipeline end-to-end: exact dedup -> token-length
    //      band -> benchmark decontamination -> deterministic shuffle ->
    //      balanced shard manifest, composed as ONE query (the q188
    //      cleaning chain swaps its fixture-vacuous Gopher stage for the
    //      length band so the output is non-trivial on this corpus). The
    //      whole chain is engine-portable (md5 ranks, integer counts), so
    //      the driver hash-checks the final shard manifest.
    GraftQuery("q200_release_pipeline",
      Some("""WITH corpus AS (SELECT min(doc_id) AS doc_id, text
             |  FROM documents WHERE doc_id % 7 <> 0 GROUP BY text),
             |sized AS (SELECT doc_id, text FROM corpus
             |  WHERE len(string_split_regex(trim(text), '\s+')) BETWEEN 50 AND 100000),
             |tok AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ts FROM sized),
             |grams AS (SELECT doc_id,
             |    CASE WHEN len(ts) >= 8 THEN array_to_string(ts[g.i:g.i+7], ' ')
             |         ELSE array_to_string(ts, ' ') END AS gram
             |  FROM tok CROSS JOIN LATERAL
             |    (SELECT unnest(range(1, greatest(len(ts)-7, 1)+1)) AS i) g),
             |btok AS (SELECT string_split_regex(trim(lower(text)), '\s+') AS ts
             |  FROM documents WHERE doc_id % 7 = 0),
             |bgrams AS (SELECT DISTINCT
             |    CASE WHEN len(ts) >= 8 THEN array_to_string(ts[g.i:g.i+7], ' ')
             |         ELSE array_to_string(ts, ' ') END AS gram
             |  FROM btok CROSS JOIN LATERAL
             |    (SELECT unnest(range(1, greatest(len(ts)-7, 1)+1)) AS i) g),
             |contam AS (SELECT DISTINCT doc_id FROM grams
             |  WHERE gram IN (SELECT gram FROM bgrams)),
             |clean AS (SELECT doc_id, text FROM sized
             |  WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
             |k AS (SELECT doc_id, text, md5('p5' || doc_id::VARCHAR) AS key FROM clean),
             |r AS (SELECT doc_id, text, row_number() OVER (ORDER BY key) - 1 AS seq,
             |    count(*) OVER () AS cnt FROM k)
             |SELECT ((seq * 4) // cnt)::INT AS shard, count(*) AS n_docs,
             |  sum(len(string_split_regex(trim(text), '\s+')))::BIGINT AS total_tokens,
             |  min(seq)::BIGINT AS min_seq, max(seq)::BIGINT AS max_seq
             |FROM r GROUP BY 1""".stripMargin),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val corpus = docs.filter(col("doc_id") % 7 =!= 0)
        val bench = docs.filter(col("doc_id") % 7 === 0)
        val dedup = graft.pipeline.Dedup.exactKeepFirst(corpus, "doc_id", "text")
          .select("doc_id", "text")
        val sized = dedup.filter(graft.pipeline.TextAnalysis
          .tokenCount(col("text")).between(50, 100000))
        val contaminated = graft.pipeline.Decontaminate.contaminated(
          sized, "doc_id", "text", bench, "text", 8).select("doc_id")
        val clean = sized.join(contaminated, Seq("doc_id"), "left_anti")
        graft.pipeline.Sharding.manifest(clean, "doc_id", "text",
          salt = "p5", nShards = 4)
      }),

    // ---- substring-level exact dedup (pipeline/SubstringDedup): maximal
    //      cross-document duplicated token runs at 8-gram resolution.
    //      Oracle re-derives them: shingle-hash → min-id owner →
    //      gaps-and-islands merge of covered [pos, pos+7] ranges.
    GraftQuery("q203_substring_dup_spans",
      Some("""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
             |  FROM documents),
             |g AS (SELECT doc_id, i.i - 1 AS pos,
             |    ('0x' || substr(md5(list_aggregate(toks[i.i:i.i+7], 'string_agg', ' ')), 1, 15))::BIGINT AS h
             |  FROM t CROSS JOIN LATERAL
             |    (SELECT unnest(generate_series(1, len(toks) - 7)) AS i) i
             |  WHERE len(toks) >= 8),
             |o AS (SELECT h, min(doc_id) AS owner FROM g GROUP BY h),
             |d AS (SELECT g.doc_id, g.pos FROM g JOIN o USING (h)
             |  WHERE g.doc_id > o.owner),
             |m AS (SELECT doc_id, pos, max(pos + 7) OVER (PARTITION BY doc_id
             |    ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
             |  FROM d),
             |i AS (SELECT *, sum(CASE WHEN pm IS NULL OR pos > pm + 1 THEN 1 ELSE 0 END)
             |    OVER (PARTITION BY doc_id ORDER BY pos
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp FROM m)
             |SELECT doc_id, min(pos)::BIGINT AS span_start,
             |  (max(pos) + 7)::BIGINT AS span_end,
             |  (max(pos) + 7 - min(pos) + 1)::BIGINT AS span_tokens
             |FROM i GROUP BY doc_id, grp""".stripMargin),
      (s, dir) => graft.pipeline.SubstringDedup.duplicatedSpans(
        t(s, dir, "documents"), "doc_id", "text", k = 8)),

    // ---- the excision step: corpus with repeated substrings removed
    //      (canonical lowest-id occurrence survives). Oracle rebuilds
    //      clean_text token-by-token via an anti-join against the covered
    //      positions.
    GraftQuery("q204_substring_dedup_clean",
      Some("""WITH t AS (SELECT doc_id, text,
             |    string_split_regex(trim(text), '\s+') AS toks FROM documents),
             |g AS (SELECT doc_id, i.i - 1 AS pos,
             |    ('0x' || substr(md5(list_aggregate(toks[i.i:i.i+7], 'string_agg', ' ')), 1, 15))::BIGINT AS h
             |  FROM t CROSS JOIN LATERAL
             |    (SELECT unnest(generate_series(1, len(toks) - 7)) AS i) i
             |  WHERE len(toks) >= 8),
             |o AS (SELECT h, min(doc_id) AS owner FROM g GROUP BY h),
             |d AS (SELECT g.doc_id, g.pos FROM g JOIN o USING (h)
             |  WHERE g.doc_id > o.owner),
             |m AS (SELECT doc_id, pos, max(pos + 7) OVER (PARTITION BY doc_id
             |    ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
             |  FROM d),
             |i AS (SELECT *, sum(CASE WHEN pm IS NULL OR pos > pm + 1 THEN 1 ELSE 0 END)
             |    OVER (PARTITION BY doc_id ORDER BY pos
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp FROM m),
             |sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e,
             |    max(pos) + 7 - min(pos) + 1 AS n FROM i GROUP BY doc_id, grp),
             |cov AS (SELECT doc_id, unnest(generate_series(s, e)) AS p FROM sp),
             |tok AS (SELECT doc_id, ti.i - 1 AS p, toks[ti.i] AS tok
             |  FROM t CROSS JOIN LATERAL
             |    (SELECT unnest(generate_series(1, len(toks))) AS i) ti),
             |kept AS (SELECT tok.doc_id, tok.p, tok.tok FROM tok
             |  ANTI JOIN cov ON tok.doc_id = cov.doc_id AND tok.p = cov.p),
             |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS ct
             |  FROM kept GROUP BY doc_id),
             |rem AS (SELECT doc_id, sum(n) AS removed FROM sp GROUP BY doc_id)
             |SELECT t.doc_id, coalesce(rem.removed, 0)::BIGINT AS removed_tokens,
             |  CASE WHEN rem.doc_id IS NULL THEN t.text
             |       ELSE coalesce(agg.ct, '') END AS clean_text
             |FROM t LEFT JOIN rem ON t.doc_id = rem.doc_id
             |LEFT JOIN agg ON t.doc_id = agg.doc_id""".stripMargin),
      (s, dir) => graft.pipeline.SubstringDedup.removeDuplicated(
        t(s, dir, "documents"), "doc_id", "text", k = 8)
        .select("doc_id", "removed_tokens", "clean_text"))
  ,

    // ---- edit-distance similarity join (pipeline/EditDistance): typo-
    //      tolerant linkage on 40-char prefixes, exercised against a
    //      deterministically mutated copy of the corpus (one substituted
    //      character). The oracle replays the exact predicate over the
    //      length-filtered cross product — affordable at oracle scale,
    //      which is exactly why the operator exists for the real one.
    GraftQuery("q206_editdist_pairs",
      Some("""WITH p0 AS (SELECT doc_id, substr(text, 1, 40) AS s FROM documents),
             |mut AS (SELECT doc_id + 100000 AS doc_id,
             |    substr(s, 1, 9) || '~' || substr(s, 11) AS s
             |  FROM p0 WHERE doc_id < 100 AND length(s) >= 11),
             |p AS (SELECT * FROM p0 UNION ALL SELECT * FROM mut)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  levenshtein(a.s, b.s)::BIGINT AS dist
             |FROM p a JOIN p b ON a.doc_id < b.doc_id
             |  AND abs(length(a.s) - length(b.s)) <= 1
             |WHERE levenshtein(a.s, b.s) <= 1""".stripMargin),
      (s, dir) => {
        val p0 = t(s, dir, "documents")
          .select(col("doc_id"), substring(col("text"), 1, 40).as("s"))
        val mut = p0.filter(col("doc_id") < 100 && length(col("s")) >= 11)
          .select((col("doc_id") + 100000).as("doc_id"),
            concat(substring(col("s"), 1, 9), lit("~"),
              substring(col("s"), 11, 1000)).as("s"))
        graft.pipeline.EditDistance.pairsWithin(
          p0.unionAll(mut), "doc_id", "s", d = 1, maxLen = 40)
      }),

    // ---- JSONL shard release (pipeline/Export): write the corpus as one
    //      JSONL file per shard, then read the release BACK from disk —
    //      the oracle recomputes the md5-rank/block layout, so the check
    //      covers the whole write-serialize-parse cycle.
    GraftQuery("q208_jsonl_release",
      Some("""WITH k AS (SELECT doc_id,
             |    md5('j8' || doc_id::VARCHAR) AS key FROM documents),
             |r AS (SELECT doc_id,
             |    row_number() OVER (ORDER BY key) - 1 AS seq,
             |    count(*) OVER () AS n FROM k)
             |SELECT doc_id, seq::BIGINT AS seq,
             |  ((seq * 8) // n)::INT AS shard
             |FROM r""".stripMargin),
      (s, dir) => {
        val out = graft.TempDirs.create("graft-jsonl-rel").toString
        graft.pipeline.Export.writeJsonlShards(
          t(s, dir, "documents"), "doc_id", salt = "j8", nShards = 8, out,
          cols = Seq("doc_id"))
        s.read.format("text").load(out)
          .select(
            get_json_object(col("value"), "$.doc_id").cast("long").as("doc_id"),
            get_json_object(col("value"), "$.seq").cast("long").as("seq"),
            col("shard").cast("int").as("shard"))
      }),

    // ---- filtered ANN, exact baseline: metadata predicate BEFORE
    //      scoring (post-filtering the unfiltered top-k would silently
    //      drop recall when the filter is selective)
    GraftQuery("q211_ann_filtered",
      Some("""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
             |SELECT vec_id,
             |  round(list_cosine_similarity(embedding::DOUBLE[], qv), 4) AS cosine
             |FROM embeddings, q WHERE label = 1
             |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin),
      (s, dir) => Similarity.bruteForceTopK(
        t(s, dir, "embeddings").filter(col("label") === 1),
        "vec_id", "embedding", queryVec(s, dir), 10)),

    // ---- filtered ANN over the persisted IVF index with adaptive probe
    //      widening (Ivf.probeIndexFiltered). Full probe degenerates to
    //      exact filtered search — the deterministic oracle anchor (the
    //      q124 pattern); selective-filter widening is spec-covered.
    GraftQuery("q212_ann_ivf_filtered",
      Some("""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
             |SELECT vec_id,
             |  round(list_cosine_similarity(embedding::DOUBLE[], qv), 4) AS cosine
             |FROM embeddings, q WHERE label = 1
             |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin),
      (s, dir) => {
        val path = graft.TempDirs.create("graft-ivf-filt").toString
        graft.pipeline.Ivf.buildIndex(
          t(s, dir, "embeddings"), "vec_id", "embedding", path, nlist = 8)
        graft.pipeline.Ivf.probeIndexFiltered(
          s, path, "vec_id", "embedding", queryVec(s, dir), 10,
          filter = col("label") === 1, nprobe = 8)
      }),

    // ---- vocabulary coverage (pipeline/CorpusStats.vocabCoverage):
    //      per-doc OOV profile against the corpus top-16 frequency vocab
    //      (tie-break token asc). The fixture universe is 31 tokens, so
    //      top-16 leaves a real OOV tail. OOV rate presented in floor-
    //      scaled basis points — identical IEEE quotient on both engines.
    GraftQuery("q227_vocab_coverage",
      Some("""WITH tok AS (SELECT doc_id,
             |    unnest(string_split_regex(trim(text), '\s+')) AS w
             |  FROM documents),
             |f AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
             |v AS (SELECT w FROM f ORDER BY c DESC, w LIMIT 16)
             |SELECT t.doc_id, count(*)::BIGINT AS n_tokens,
             |  sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
             |  CAST(floor(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)
             |    * 10000.0 / count(*)) AS BIGINT) AS oov_bp
             |FROM tok t LEFT JOIN v ON v.w = t.w
             |GROUP BY 1""".stripMargin),
      (s, dir) => graft.pipeline.CorpusStats.vocabCoverage(
        t(s, dir, "documents"), "doc_id", "text", vocabSize = 16)),

    // ---- TF-IDF salient terms (CorpusStats.tfidfTopTerms): top-3 terms
    //      per doc ranked by the exact rational tf/df (idf's ln is
    //      monotone — same order, no libm in the key), ties by term asc.
    //      Integer tf/df plus a floor-scaled ppm score.
    GraftQuery("q229_tfidf_top_terms",
      Some("""WITH tf AS (SELECT doc_id, w, count(*) AS tf
             |  FROM (SELECT doc_id,
             |      unnest(string_split_regex(trim(text), '\s+')) AS w
             |    FROM documents)
             |  GROUP BY 1, 2),
             |df AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
             |r AS (SELECT tf.doc_id, tf.w, tf.tf, df.df,
             |    row_number() OVER (PARTITION BY tf.doc_id
             |      ORDER BY tf.tf::DOUBLE / df.df DESC, tf.w) AS rn
             |  FROM tf JOIN df USING (w))
             |SELECT doc_id, rn::BIGINT AS rank, w AS term,
             |  tf::BIGINT AS tf, df::BIGINT AS df,
             |  CAST(floor(tf * 1000000.0 / df) AS BIGINT) AS score_ppm
             |FROM r WHERE rn <= 3""".stripMargin),
      (s, dir) => graft.pipeline.CorpusStats.tfidfTopTerms(
        t(s, dir, "documents"), "doc_id", "text", k = 3)),

    // ---- PMI collocations (CorpusStats.pmiCollocations): top-20 adjacent
    //      bigrams by the PMI argument c_xy*T/(c_x*c_y) (ln monotone — no
    //      libm in the ranking), count >= 5, ties (x, y) asc. The operand
    //      order cxy*T / cx / cy * 1e6 is mirrored exactly here so the
    //      IEEE rounding sequence matches bit-for-bit.
    GraftQuery("q230_pmi_bigrams",
      Some("""WITH t AS (SELECT string_split_regex(trim(text), '\s+') AS toks
             |  FROM documents),
             |b AS (SELECT toks[i.i] AS x, toks[i.i + 1] AS y
             |  FROM t CROSS JOIN LATERAL
             |    (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) i
             |  WHERE len(toks) >= 2),
             |cxy AS (SELECT x, y, count(*) AS cxy FROM b GROUP BY 1, 2),
             |u AS (SELECT w, count(*) AS c
             |  FROM (SELECT unnest(toks) AS w FROM t) GROUP BY 1),
             |tot AS (SELECT sum(c)::BIGINT AS t FROM u)
             |SELECT x, y, cxy::BIGINT AS cxy, ux.c::BIGINT AS cx,
             |  uy.c::BIGINT AS cy,
             |  CAST(floor(cxy::DOUBLE * tot.t / ux.c / uy.c * 1000000.0)
             |    AS BIGINT) AS pmi_ppm
             |FROM cxy JOIN u ux ON ux.w = x JOIN u uy ON uy.w = y, tot
             |WHERE cxy >= 5
             |ORDER BY cxy::DOUBLE * tot.t / ux.c / uy.c DESC, x, y
             |LIMIT 20""".stripMargin),
      (s, dir) => graft.pipeline.CorpusStats.pmiCollocations(
        t(s, dir, "documents"), "text", minCount = 5, topN = 20)),

    // ---- per-doc duplication diagnostic (SubstringDedup
    //      .duplicationProfile): fraction of each doc's 8-gram shingles
    //      occurring in >1 distinct document — the threshold-tuning scan
    //      before an excision run. Same engine-portable md5 shingle hash
    //      as q203; floor-scaled basis points.
    GraftQuery("q239_dup_ngram_rate",
      Some("""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
             |  FROM documents),
             |g AS (SELECT doc_id,
             |    ('0x' || substr(md5(list_aggregate(toks[i.i:i.i+7], 'string_agg', ' ')), 1, 15))::BIGINT AS h
             |  FROM t CROSS JOIN LATERAL
             |    (SELECT unnest(generate_series(1, len(toks) - 7)) AS i) i
             |  WHERE len(toks) >= 8),
             |o AS (SELECT h, count(DISTINCT doc_id) AS nd FROM g GROUP BY 1)
             |SELECT g.doc_id, count(*)::BIGINT AS n_shingles,
             |  sum(CASE WHEN o.nd > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup,
             |  CAST(floor(sum(CASE WHEN o.nd > 1 THEN 1 ELSE 0 END)
             |    * 10000.0 / count(*)) AS BIGINT) AS dup_bp
             |FROM g JOIN o USING (h) GROUP BY 1""".stripMargin),
      (s, dir) => graft.pipeline.SubstringDedup.duplicationProfile(
        t(s, dir, "documents"), "doc_id", "text", k = 8)),

    // ---- deterministic integer PageRank (operators/Graph.pageRankInt)
    //      over the token bigram graph: ranks in integer micro-units,
    //      damping as the rational 17/20 with integer division per edge —
    //      per-node sums are integer sums, so the distributed fixed point
    //      is bit-identical to the oracle's ten UNROLLED join+group CTEs
    //      (floating PageRank would be run-order sensitive and
    //      unverifiable).
    GraftQuery("q240_pagerank_tokens", Some(pageRankOracle(10)),
      (s, dir) => {
        val toks = graft.pipeline.TextAnalysis.tokens(col("text"))
        val edges = t(s, dir, "documents")
          .withColumn("__toks", toks)
          .filter(size(col("__toks")) >= 2)
          .select(explode(expr(
            """transform(sequence(0, size(__toks) - 2),
              |  i -> struct(__toks[i] AS x, __toks[i+1] AS y))""".stripMargin))
            .as("b"))
          .groupBy(col("b.x").as("x"), col("b.y").as("y"))
          .agg(count(lit(1)).as("w"))
        graft.operators.Graph.pageRankInt(edges, "x", "y", "w", iters = 10)
      }),

    // ---- feature-hashing vectorizer (CorpusStats.featureHash): sparse
    //      64-bucket token counts via the engine-portable md5 hash — no
    //      vocabulary pass, the corpus-scale featurizer. Integer counts.
    GraftQuery("q245_feature_hashing",
      Some("""SELECT doc_id,
             |  ('0x' || substr(md5(w), 1, 15))::BIGINT % 64 AS bucket,
             |  count(*)::BIGINT AS cnt
             |FROM (SELECT doc_id,
             |    unnest(string_split_regex(trim(text), '\s+')) AS w
             |  FROM documents)
             |GROUP BY 1, 2""".stripMargin),
      (s, dir) => graft.pipeline.CorpusStats.featureHash(
        t(s, dir, "documents"), "doc_id", "text", dim = 64)),

    // ---- leakage-safe split: train/val/test assignment by CLUSTER, not
    //      document — near-duplicate docs (q87's connected components)
    //      always land in the same split, so eval can't score memorized
    //      near-copies of training docs (the contamination a per-doc
    //      hash split silently allows). Split = md5 hash of the cluster
    //      representative; crossing_clusters is the audit certificate
    //      (0 by construction, computed from the data, not assumed).
    GraftQuery("q254_leakage_safe_split",
      Some(s"""WITH RECURSIVE $jaccPairCteSql,
             |${ccCteSqlOf("p")},
             |lab AS (SELECT d.doc_id, d.n_chars,
             |    coalesce(cc.cluster_id, d.doc_id) AS cluster_id
             |  FROM documents d LEFT JOIN cc ON cc.id = d.doc_id),
             |s AS (SELECT *, ${splitCaseSql("cluster_id::VARCHAR")} AS split
             |  FROM lab),
             |x AS (SELECT count(*)::BIGINT AS crossing FROM (
             |  SELECT cluster_id FROM s GROUP BY 1
             |  HAVING count(DISTINCT split) > 1))
             |SELECT split, count(*)::BIGINT AS n_docs,
             |  count(DISTINCT cluster_id)::BIGINT AS n_clusters,
             |  sum(n_chars)::BIGINT AS sum_chars,
             |  (SELECT crossing FROM x) AS crossing_clusters
             |FROM s GROUP BY 1""".stripMargin),
      (s, dir) => {
        val cc = graft.pipeline.Dedup.connectedComponents(jaccardPairs(s, dir))
          .withColumnRenamed("id", "doc_id")
        val labeled = t(s, dir, "documents")
          .join(cc, Seq("doc_id"), "left")
          .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
          .withColumn("split", TextAnalysis.hashSplit(col("cluster_id")))
          // pinned: both the certificate below and the returned aggregate
          // consume it — without this the CC pipeline runs twice
          .localCheckpoint()
        val crossing = labeled.groupBy("cluster_id")
          .agg(countDistinct("split").as("__ns"))
          .filter(col("__ns") > 1).count()
        labeled.groupBy("split").agg(
            count(lit(1)).as("n_docs"),
            countDistinct("cluster_id").as("n_clusters"),
            sum("n_chars").as("sum_chars"))
          .withColumn("crossing_clusters", lit(crossing))
      }),

    // ---- incremental connected components (Dedup.updateClusters): the
    //      last 20% of docs (by id hash) arrive as a "new batch"; their
    //      pairs fold into the old corpus' persisted cluster assignment
    //      touching only affected clusters — old↔old clusters bridged by
    //      a new doc merge and relabel correctly. The oracle is the FULL
    //      from-scratch transitive closure over all pairs: incremental
    //      must be indistinguishable from recompute.
    GraftQuery("q255_incremental_clusters",
      Some(clusterIdsSql),
      (s, dir) => {
        val pairs = jaccardPairs(s, dir)
        def isNew(c: org.apache.spark.sql.Column) = pmod(c, lit(10L)) >= 8
        val oldOld = pairs.filter(!isNew(col("id_a")) && !isNew(col("id_b")))
        val withNew = pairs.filter(isNew(col("id_a")) || isNew(col("id_b")))
        val assignments = graft.pipeline.Dedup.connectedComponents(oldOld)
        graft.pipeline.Dedup.updateClusters(assignments, withNew)
          .select(col("id").as("doc_id"), col("cluster_id"))
      }),

    // ---- IVF probe-width sweep (Ivf.probeSweep): the recall@k / scan-cost
    //      curve per nprobe — how an ANN index's operating point is chosen.
    //      Ground truth = brute-force top-k; recall hits 10000 bp at
    //      nprobe = nlist by construction (spec-asserted). kmeans-derived →
    //      rows-only at the driver gate.
    GraftQuery("q256_ivf_probe_sweep", None,
      (s, dir) => graft.pipeline.Ivf.probeSweep(
        t(s, dir, "embeddings"), "vec_id", "embedding", queryVec(s, dir),
        k = 10, nlist = 16, nprobes = Seq(1, 2, 4, 8, 16))),

    // ---- LSH banding sweep (Dedup.lshTuningSweep): relative recall per
    //      band count against the one-row-per-band ceiling — the dedup
    //      deployment's tuning curve (q55's bands=16 operating point read
    //      off this curve). Banded candidate sets NEST along the doubling
    //      chain, so recall is provably monotone (spec-asserted).
    //      Hash-checked since round 5: the md5-portable minhash (q55 note)
    //      plus the md5 sample draw make every configuration's candidate
    //      set and exact-verify count SQL-replayable.
    GraftQuery("q258_lsh_tuning_sweep",
      Some("""WITH smp AS (SELECT doc_id, text FROM documents
             |  WHERE ('0x' || substr(md5(doc_id::VARCHAR || ':lshsweep'), 1, 8))::BIGINT % 100 < 5),
             |t AS (SELECT doc_id,
             |    string_split_regex(trim(text), '\s+') AS toks FROM smp),
             |sh AS (
             |  SELECT doc_id, toks[i.i] || ' ' || toks[i.i+1] || ' ' || toks[i.i+2] AS s
             |  FROM t, unnest(generate_series(1, len(toks) - 2)) i(i)
             |  WHERE len(toks) >= 3
             |  UNION
             |  SELECT doc_id, array_to_string(toks, ' ') FROM t WHERE len(toks) < 3),
             |hs AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM sh),
             |co AS (SELECT j.j,
             |    2 * ('0x' || substr(md5('mh:a:' || j.j), 1, 7))::BIGINT + 1 AS a,
             |    ('0x' || substr(md5('mh:b:' || j.j), 1, 15))::BIGINT AS b
             |  FROM generate_series(0, 63) j(j)),
             |mins AS (SELECT doc_id, j,
             |    min((a::HUGEINT * h + b) % 18446744073709551616) AS m
             |  FROM hs CROSS JOIN co GROUP BY doc_id, j),
             |cfg AS (SELECT * FROM (VALUES (4, 16), (8, 8), (16, 4), (32, 2),
             |  (64, 1)) c(bands, rpb)),
             |bk AS (SELECT c.bands, doc_id, j // c.rpb AS band,
             |    md5(string_agg(m::VARCHAR, ',' ORDER BY j)) AS key
             |  FROM mins CROSS JOIN cfg c GROUP BY c.bands, c.rpb, doc_id, j // c.rpb),
             |sl AS (SELECT doc_id, list(s) AS l FROM sh GROUP BY doc_id),
             |cand AS (SELECT DISTINCT a.bands, a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM bk a JOIN bk b ON a.bands = b.bands AND a.band = b.band
             |    AND a.key = b.key AND a.doc_id < b.doc_id),
             |ver AS (SELECT bands, count(*) AS n FROM cand
             |  JOIN sl sa ON sa.doc_id = cand.id_a
             |  JOIN sl sb ON sb.doc_id = cand.id_b
             |  WHERE len(list_intersect(sa.l, sb.l))::DOUBLE
             |    / len(list_distinct(list_concat(sa.l, sb.l))) >= 0.8
             |  GROUP BY bands),
             |f AS (SELECT c.bands, c.rpb, coalesce(v.n, 0) AS n
             |  FROM cfg c LEFT JOIN ver v USING (bands)),
             |r AS (SELECT n AS refn FROM f WHERE bands = 64)
             |SELECT f.bands, f.rpb AS rows_per_band, f.n::BIGINT AS found_pairs,
             |  r.refn::BIGINT AS ref_pairs,
             |  (CASE WHEN r.refn = 0 THEN 10000
             |    ELSE f.n * 10000 // r.refn END)::BIGINT AS recall_bp
             |FROM f, r""".stripMargin),
      (s, dir) => graft.pipeline.Dedup.lshTuningSweep(
        t(s, dir, "documents"), "doc_id", "text",
        shingleK = 3, numHashes = 64, bandsChoices = Seq(4, 8, 16, 32),
        threshold = 0.8, samplePct = 5)),

    // ---- systematic PPS sampling (pipeline/Sampling): draw k=50 docs
    //      proportionally to n_chars via midpoint strata on the cumulative
    //      weight line — pure integer arithmetic, so the oracle replays the
    //      draw bit-exactly (deterministic sibling of the q117 Gumbel draw);
    //      cumsum is the two-phase distributed prefix scan
    GraftQuery("q262_pps_sample",
      Some("""WITH d AS (SELECT doc_id, n_chars::BIGINT AS w,
             |    sum(n_chars::BIGINT) OVER (ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             |  FROM documents),
             |s AS (SELECT sum(w)::BIGINT AS tw FROM d)
             |SELECT doc_id, w,
             |  (least(50, (100 * cum + tw) // (2 * tw))
             |   - least(50, (100 * (cum - w) + tw) // (2 * tw)))::BIGINT AS n_hits
             |FROM d CROSS JOIN s
             |WHERE least(50, (100 * cum + tw) // (2 * tw))
             |    > least(50, (100 * (cum - w) + tw) // (2 * tw))""".stripMargin),
      (s, dir) => graft.pipeline.Sampling.systematicPps(
        t(s, dir, "documents"), "doc_id", "n_chars", k = 50)),

    // ---- semantic decontamination (Decontaminate.semanticContamination):
    //      train vectors near-identical to any held-out/benchmark vector
    //      (vec_id % 50 = 0 plays the benchmark set) — broadcast the small
    //      bench side, exact cosine map-side, rollup only over-threshold
    //      pairs; exactness is what makes it oracle-checkable
    GraftQuery("q263_semantic_decontaminate",
      Some("""WITH b AS (SELECT embedding FROM embeddings WHERE vec_id % 50 = 0),
             |t AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 50 <> 0),
             |p AS (SELECT t.vec_id,
             |    round(list_cosine_similarity(t.embedding::DOUBLE[],
             |                                 b.embedding::DOUBLE[]), 4) AS c
             |  FROM t CROSS JOIN b)
             |SELECT vec_id, count(*) AS n_hits, max(c) AS max_cosine
             |FROM p WHERE c >= 0.25 GROUP BY vec_id""".stripMargin),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Decontaminate.semanticContamination(
          emb.filter(col("vec_id") % 50 =!= 0), "vec_id", "embedding",
          emb.filter(col("vec_id") % 50 === 0), "embedding",
          threshold = 0.25)
      }),

    // ---- surgical tombstone rewrite (Sharding.deleteRewrite): remove a
    //      takedown id list from a released sharded corpus by rewriting
    //      ONLY the affected shard partitions (dynamic partition
    //      overwrite) — O(affected shards), never a corpus rewrite. The
    //      audit is derived from the staged data the rewrite actually
    //      wrote; the oracle re-derives the md5 shard assignment.
    GraftQuery("q264_tombstone_rewrite",
      Some("""WITH k AS (SELECT doc_id, md5('g4' || doc_id::VARCHAR) AS key
             |  FROM documents),
             |r AS (SELECT doc_id, row_number() OVER (ORDER BY key) - 1 AS seq,
             |    count(*) OVER () AS n FROM k),
             |a AS (SELECT doc_id, ((seq * 16) // n)::INT AS shard FROM r)
             |SELECT shard,
             |  sum(CASE WHEN doc_id % 97 = 0 THEN 1 ELSE 0 END)::BIGINT AS docs_removed,
             |  sum(CASE WHEN doc_id % 97 = 0 THEN 0 ELSE 1 END)::BIGINT AS docs_remaining
             |FROM a GROUP BY shard
             |HAVING sum(CASE WHEN doc_id % 97 = 0 THEN 1 ELSE 0 END) > 0""".stripMargin),
      (s, dir) => {
        val out = graft.TempDirs.create("graft-tombstone").toString
        graft.pipeline.Sharding.write(
          t(s, dir, "documents"), "doc_id", salt = "g4", nShards = 16, out)
        val tomb = t(s, dir, "documents")
          .filter(col("doc_id") % 97 === 0).select("doc_id")
        graft.pipeline.Sharding.deleteRewrite(s, out, "doc_id", tomb)
      }),

    // ---- k-anonymity / l-diversity release audit (Pii.kAnonymityReport):
    //      quasi-identifiers = (event_type, hour, value band), sensitive =
    //      user_id; groups with size < 5 or sensitive diversity < 3 are
    //      the release blockers. One combinable keyed agg, violating
    //      groups only, all integer counts.
    GraftQuery("q267_k_anonymity",
      Some("""WITH g AS (SELECT event_type, hour(ts) AS hh,
             |    (floor("value")::BIGINT) // 100 AS vband,
             |    count(*) AS group_size,
             |    count(DISTINCT user_id) AS n_sensitive
             |  FROM events GROUP BY 1, 2, 3)
             |SELECT event_type, hh, vband, group_size, n_sensitive,
             |  CASE WHEN group_size < 5 AND n_sensitive < 3 THEN 'k_and_l'
             |       WHEN group_size < 5 THEN 'k_anonymity'
             |       WHEN n_sensitive < 3 THEN 'l_diversity' END AS violation
             |FROM g
             |WHERE group_size < 5 OR n_sensitive < 3""".stripMargin),
      (s, dir) => Pii.kAnonymityReport(
        t(s, dir, "events")
          .withColumn("hh", hour(col("ts")))
          .withColumn("vband", expr("floor(value) div 100")),
        Seq("event_type", "hh", "vband"), "user_id", k = 5, l = 3)),

    // ---- audio frame analysis (Multimodal.audioFrames): PCM16 framing +
    //      integer RMS/zero-crossing + energy-gate VAD, per-partition
    //      batch shape; per-media rollup. Binary parse not expressible in
    //      the oracle → rows-only; signal math spec'd on a hand-built
    //      sine/silence payload in PipelineSpec.
    // ---- containment (asymmetric) near-dup pairs (Dedup.containmentPairs):
    //      |A∩B|/|A| >= 0.9 with A the smaller token set — the doc-inside-
    //      doc duplication Jaccard misses. Prefix-filtered (lossless), no
    //      length blocking, native sorted-intersect verify; oracle is the
    //      exact all-pairs formulation.
    GraftQuery("q269_containment_pairs",
      Some("""WITH t AS (SELECT doc_id, lang,
             |    list_distinct(string_split_regex(trim(text), '\s+')) AS toks
             |  FROM documents)
             |SELECT a.doc_id AS id_contained, b.doc_id AS id_container,
             |  round(len(list_intersect(a.toks, b.toks))::DOUBLE / len(a.toks), 4)
             |    AS containment
             |FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id <> b.doc_id
             |  AND (len(a.toks) < len(b.toks)
             |    OR (len(a.toks) = len(b.toks) AND a.doc_id < b.doc_id))
             |WHERE len(list_intersect(a.toks, b.toks))::DOUBLE / len(a.toks) >= 0.9""".stripMargin),
      (s, dir) => Dedup.containmentPairs(
        t(s, dir, "documents"), "doc_id", "text", "lang",
        n = 1, threshold = 0.9)),

    GraftQuery("q268_audio_frames", None,
      (s, dir) => Multimodal.audioFrames(
          Multimodal.fromDocuments(s, t(s, dir, "documents")),
          frameSamples = 256, hopSamples = 128, vadRmsMilli = 50000)
        .groupBy("media_id")
        .agg(count(lit(1)).as("n_frames"),
          sum(when(col("voiced"), 1L).otherwise(0L)).as("n_voiced"),
          max("rms_milli").as("max_rms_milli"),
          max("zcr_bp").as("max_zcr_bp"))),

    // ---- URL canonicalization (UrlCanon): the WET-pipeline front door.
    //      Scheme/case/port/tracking/fragment variants collapse to one
    //      canonical form + registered domain; the synthetic URL column is
    //      built from fixture values by BOTH engines (urlBuildSql twin).
    //      Map-only native string expressions — no UDFs, no interpreted
    //      lambdas (array_sort/array_join here are lambda-free).
    GraftQuery("q294_url_canonicalize",
      Some(s"""WITH u AS (SELECT doc_id, $urlBuildSql AS url FROM documents),
              |c0 AS ($urlCanonSql)
              |SELECT doc_id, canonical AS canonical_url, domain, host, path
              |FROM ($urlAssembleSql)""".stripMargin),
      (s, dir) => UrlCanon.canonicalize(
          t(s, dir, "documents").withColumn("url", syntheticUrl), "url")
        .select(col("doc_id"), col("url_canonical").as("canonical_url"),
          col("url_domain").as("domain"), col("url_host").as("host"),
          col("url_path").as("path"))),

    // ---- URL dedup + per-domain cap (UrlCanon.dedupByUrl/domainCap):
    //      one keeper (lowest doc_id) per canonical URL, then at most 3
    //      keepers per registered domain; per-domain accounting incl. the
    //      SUM of kept keeper ids (validates WHICH rows the cap kept, not
    //      just how many). One hash agg + one domain-keyed window.
    GraftQuery("q295_url_dedup_cap",
      Some(s"""WITH $urlCteSql,
              |d AS (SELECT canonical, domain, min(doc_id) AS keeper_id,
              |        count(*) AS n_variants FROM c GROUP BY 1, 2),
              |k AS (SELECT domain, keeper_id, row_number() OVER (
              |        PARTITION BY domain ORDER BY keeper_id) AS rk FROM d)
              |SELECT d.domain,
              |  sum(d.n_variants)::BIGINT AS n_docs,
              |  count(*)::BIGINT AS n_unique,
              |  (SELECT count(*) FROM k WHERE k.domain = d.domain AND k.rk <= 3)::BIGINT AS n_kept,
              |  (SELECT sum(keeper_id) FROM k WHERE k.domain = d.domain AND k.rk <= 3)::BIGINT AS kept_id_sum
              |FROM d GROUP BY 1""".stripMargin),
      (s, dir) => {
        val withUrl = t(s, dir, "documents").withColumn("url", syntheticUrl)
        val dd = UrlCanon.dedupByUrl(withUrl, "url", "doc_id")
        // cap over the SAME deduped frame — one canonicalize+aggregate;
        // the shared subtree's shuffle is reused across the two branches
        val capped = UrlCanon.capDeduped(dd, cap = 3)
        dd.groupBy(col("url_domain").as("domain"))
          .agg(sum("n_variants").as("n_docs"),
            count(lit(1)).as("n_unique"))
          .join(capped.groupBy(col("url_domain").as("domain"))
            .agg(count(lit(1)).as("n_kept"),
              sum("keeper_id").as("kept_id_sum")), "domain")
      }),

    // ---- tokenizer-fertility audit (TokenizerAudit.fertilityByLang):
    //      vocabulary coverage + byte-fallback subword accounting per
    //      language — top-500 corpus words cost 1 token, OOV words cost
    //      one per char; fertility and chars/token as scaled integers
    //      (the pre-mix sequence-length-cost report per language).
    GraftQuery("q296_tokenizer_fertility",
      Some("""WITH w AS (SELECT lang, w FROM (
             |    SELECT lang, unnest(string_split_regex(trim(text), '\s+')) AS w
             |    FROM documents) WHERE w <> ''),
             |v AS (SELECT w AS vw FROM (
             |    SELECT w, count(*) AS c FROM w GROUP BY 1
             |    ORDER BY c DESC, w LIMIT 500)),
             |a AS (SELECT lang, count(*) AS words,
             |    sum(CASE WHEN w IN (SELECT vw FROM v) THEN 1 ELSE length(w) END) AS subword_tokens,
             |    sum(length(w)) AS word_chars
             |  FROM w GROUP BY 1),
             |d AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1)
             |SELECT a.lang, d.n_docs::BIGINT AS n_docs, a.words::BIGINT AS words,
             |  a.subword_tokens::BIGINT AS subword_tokens,
             |  ((a.subword_tokens * 1000) // a.words)::BIGINT AS fertility_x1000,
             |  ((a.word_chars * 1000) // a.subword_tokens)::BIGINT AS chars_per_token_x1000
             |FROM a JOIN d ON a.lang = d.lang""".stripMargin),
      (s, dir) => TokenizerAudit.fertilityByLang(
        t(s, dir, "documents"), "text", "lang", vocabSize = 500)),

    // ---- domain-level quality rollup (DomainStats.qualityRollup): the
    //      RefinedWeb layer above per-page filtering — short-doc share per
    //      registered domain decides keep/drop at domain grain. One
    //      map-only canonicalization + one domain-keyed hash agg.
    GraftQuery("q297_domain_quality_rollup",
      Some(s"""WITH $urlCteSql,
              |j AS (SELECT c.domain,
              |    len(string_split_regex(trim(d.text), '\\s+')) AS ntok
              |  FROM c JOIN documents d USING (doc_id)),
              |a AS (SELECT domain, count(*) AS n_docs, sum(ntok) AS total_tokens,
              |    sum(CASE WHEN ntok < 40 THEN 1 ELSE 0 END) AS n_low
              |  FROM j GROUP BY 1)
              |SELECT domain, n_docs::BIGINT AS n_docs,
              |  total_tokens::BIGINT AS total_tokens, n_low::BIGINT AS n_low,
              |  CAST(floor(total_tokens * 1000.0 / n_docs) AS BIGINT) AS avg_tokens_x1000,
              |  CAST(floor(n_low * 10000.0 / n_docs) AS BIGINT) AS low_bp,
              |  (CASE WHEN CAST(floor(n_low * 10000.0 / n_docs) AS BIGINT) < 4000
              |        THEN 1 ELSE 0 END)::BIGINT AS kept
              |FROM a""".stripMargin),
      (s, dir) => DomainStats.qualityRollup(
        t(s, dir, "documents").withColumn("url", syntheticUrl),
        "url", "text", minTokens = 40, maxLowBp = 4000)),

    // ---- Heaps-law vocabulary growth (CorpusStats.vocabGrowth):
    //      cumulative distinct-vocab vs token mass at ten equal-count
    //      corpus prefixes — the "does more of this source still buy new
    //      language?" saturation curve. Two-phase global rank for the
    //      prefix cut; per-token FIRST-occurrence bucket for the distinct
    //      counting (no prefix re-counts the corpus).
    GraftQuery("q298_vocab_growth",
      Some("""WITH r AS (SELECT text,
             |    ((row_number() OVER (ORDER BY doc_id) - 1) * 10)
             |      // (SELECT count(*) FROM documents) + 1 AS bucket
             |  FROM documents),
             |tok AS (SELECT bucket,
             |    unnest(string_split_regex(trim(text), '\s+')) AS w FROM r),
             |da AS (SELECT bucket, count(*) AS n_docs FROM r GROUP BY 1),
             |ta AS (SELECT bucket, count(*) AS n_tokens FROM tok GROUP BY 1),
             |fo AS (SELECT w, min(bucket) AS bucket FROM tok GROUP BY 1),
             |nv AS (SELECT bucket, count(*) AS new_types FROM fo GROUP BY 1),
             |b AS (SELECT da.bucket, da.n_docs, ta.n_tokens,
             |    coalesce(nv.new_types, 0) AS new_types
             |  FROM da JOIN ta USING (bucket) LEFT JOIN nv USING (bucket)),
             |cum AS (SELECT bucket,
             |    sum(n_docs) OVER (ORDER BY bucket) AS cum_docs,
             |    sum(n_tokens) OVER (ORDER BY bucket) AS cum_tokens,
             |    sum(new_types) OVER (ORDER BY bucket) AS cum_vocab
             |  FROM b)
             |SELECT bucket::BIGINT AS bucket, cum_docs::BIGINT AS cum_docs,
             |  cum_tokens::BIGINT AS cum_tokens, cum_vocab::BIGINT AS cum_vocab,
             |  CAST(floor(cum_vocab * 10000.0 / cum_tokens) AS BIGINT) AS ttr_bp
             |FROM cum""".stripMargin),
      (s, dir) => graft.pipeline.CorpusStats.vocabGrowth(
        t(s, dir, "documents"), "doc_id", "text", nBuckets = 10)),

    // ---- Zipf frequency spectrum (CorpusStats.zipfSpectrum): tokens
    //      bucketed by floor(log2(corpus frequency)) via STRING bit-length
    //      (length(bin(c))-1 — no libm log2 at power-of-two boundaries),
    //      type/occurrence masses + bytewise-min representative per bucket.
    GraftQuery("q299_zipf_spectrum",
      Some("""WITH f AS (SELECT w, count(*) AS c FROM (
             |    SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
             |    FROM documents) GROUP BY 1)
             |SELECT (length(bin(c)) - 1)::BIGINT AS freq_bucket,
             |  count(*)::BIGINT AS n_types, sum(c)::BIGINT AS n_occurrences,
             |  min(c)::BIGINT AS min_count, max(c)::BIGINT AS max_count,
             |  min(w) AS first_token
             |FROM f GROUP BY 1""".stripMargin),
      (s, dir) => graft.pipeline.CorpusStats.zipfSpectrum(
        t(s, dir, "documents"), "text")),

    // ---- leakage-safe DOMAIN-level split (DomainStats.domainSplit):
    //      every page of one registered domain lands in the same
    //      train/val/test bucket; n_docs_naive_other counts the documents
    //      a naive doc-level hash split would have sent across the eval
    //      boundary (the concrete leak risk the domain split retires).
    GraftQuery("q300_domain_split",
      Some(s"""WITH $urlCteSql,
              |j AS (SELECT c.doc_id, c.domain,
              |    len(string_split_regex(trim(d.text), '\\s+')) AS ntok
              |  FROM c JOIN documents d USING (doc_id)),
              |lab AS (SELECT domain, ntok, ${splitCaseSql("domain")} AS split,
              |    ${splitCaseSql("doc_id::VARCHAR")} AS doc_split
              |  FROM j)
              |SELECT split, count(DISTINCT domain)::BIGINT AS n_domains,
              |  count(*)::BIGINT AS n_docs, sum(ntok)::BIGINT AS total_tokens,
              |  sum(CASE WHEN doc_split <> split THEN 1 ELSE 0 END)::BIGINT AS n_docs_naive_other
              |FROM lab GROUP BY 1""".stripMargin),
      (s, dir) => DomainStats.domainSplit(
        t(s, dir, "documents").withColumn("url", syntheticUrl),
        "url", "doc_id", "text")),

    // ---- per-source lexical drift (Drift.sourceTvDistance): total-
    //      variation distance between each source's unigram distribution
    //      and the corpus's — exact integer numerators (scaled by n_s·N,
    //      absent tokens handled by the sparse complement identity), one
    //      final basis-point floor. No smoothing, no libm log.
    GraftQuery("q301_source_tv_distance",
      Some("""WITH tok AS (SELECT source,
             |    unnest(string_split_regex(trim(text), '\s+')) AS w
             |  FROM documents),
             |csw AS (SELECT source, w, count(*) AS c_sw FROM tok GROUP BY 1, 2),
             |cw AS (SELECT w, sum(c_sw) AS c_w FROM csw GROUP BY 1),
             |ns AS (SELECT source, sum(c_sw) AS n_s FROM csw GROUP BY 1),
             |nt AS (SELECT sum(c_w) AS n_total FROM cw),
             |j AS (SELECT c.source,
             |    abs(c.c_sw * (SELECT n_total FROM nt) - cw.c_w * ns.n_s) AS d,
             |    cw.c_w * ns.n_s AS m
             |  FROM csw c JOIN cw USING (w) JOIN ns ON ns.source = c.source),
             |a AS (SELECT source, sum(d) AS d_present, sum(m) AS mass_present
             |  FROM j GROUP BY 1)
             |SELECT a.source, ns.n_s::BIGINT AS n_tokens,
             |  (a.d_present + ((SELECT n_total FROM nt) * ns.n_s - a.mass_present))::BIGINT AS tv_num,
             |  CAST(floor(
             |    (a.d_present + ((SELECT n_total FROM nt) * ns.n_s - a.mass_present)) * 10000.0
             |    / (2.0 * ns.n_s * (SELECT n_total FROM nt))) AS BIGINT) AS tv_bp
             |FROM a JOIN ns USING (source)""".stripMargin),
      (s, dir) => graft.pipeline.Drift.sourceTvDistance(
        t(s, dir, "documents"), "source", "text")),

    // ---- per-domain language coherence (DomainStats.langCoherence):
    //      Gini impurity of each registered domain's language mix +
    //      majority-language share — the machine-translation/SEO-spam
    //      signal page-level filters can't see. Exact rational, floored
    //      basis points.
    GraftQuery("q302_domain_lang_coherence",
      Some(s"""WITH $urlCteSql,
              |j AS (SELECT c.domain, d.lang FROM c JOIN documents d USING (doc_id)),
              |dl AS (SELECT domain, lang, count(*) AS cnt FROM j GROUP BY 1, 2),
              |a AS (SELECT domain, sum(cnt) AS n_docs, count(*) AS n_langs,
              |    sum(cnt * cnt) AS ssq, max(cnt) AS cmax
              |  FROM dl GROUP BY 1)
              |SELECT domain, n_docs::BIGINT AS n_docs, n_langs::BIGINT AS n_langs,
              |  CAST(floor((n_docs * n_docs - ssq) * 10000.0 / (n_docs * n_docs)) AS BIGINT) AS gini_bp,
              |  CAST(floor(cmax * 10000.0 / n_docs) AS BIGINT) AS majority_bp
              |FROM a""".stripMargin),
      (s, dir) => DomainStats.langCoherence(
        t(s, dir, "documents").withColumn("url", syntheticUrl),
        "url", "lang")),

    // ---- soft dedup (Dedup.softDedupWeights): near-dup cluster members
    //      down-weighted to 1/cluster_size instead of dropped — one
    //      expected copy per cluster survives sampling while every
    //      variant stays visible. Reuses the memoized q54/q87 pair list;
    //      oracle re-derives the q87 transitive closure then the same
    //      per-source weight rollup.
    GraftQuery("q303_soft_dedup_weights",
      Some("WITH RECURSIVE " + jaccPairCteSql + ",\n" +
        clusterWeightCteSqlOf("p", "documents") + """
             |SELECT d.source, count(*)::BIGINT AS n_docs,
             |  sum(CAST(floor(10000.0 / w.csz) AS BIGINT))::BIGINT AS sum_weight_x10000,
             |  sum(CASE WHEN w.csz = 1 THEN 1 ELSE 0 END)::BIGINT AS n_singletons
             |FROM documents d JOIN w USING (doc_id) GROUP BY 1""".stripMargin),
      (s, dir) => Dedup.softDedupWeights(
          t(s, dir, "documents"), "doc_id", jaccardPairs(s, dir))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("weight_x10000").as("sum_weight_x10000"),
          sum(when(col("cluster_size") === 1, 1L).otherwise(0L))
            .as("n_singletons"))),

    // ---- corpus release diff (ReleaseDiff.contentDiff): content-hash
    //      (md5(text)) diff between two snapshots — added/removed/kept +
    //      churn per source; id-based diffs undercount churn whenever
    //      ingestion re-keys. Snapshots are deterministic fixture slices
    //      (old = doc_id%10≠9, new = doc_id%10≠0, ~80% overlap).
    GraftQuery("q304_release_diff",
      Some("""WITH o AS (SELECT DISTINCT source, md5(text) AS h
             |  FROM documents WHERE doc_id % 10 <> 9),
             |n AS (SELECT DISTINCT source, md5(text) AS h
             |  FROM documents WHERE doc_id % 10 <> 0),
             |j AS (SELECT coalesce(o.source, n.source) AS source,
             |    (o.h IS NOT NULL) AS in_old, (n.h IS NOT NULL) AS in_new
             |  FROM o FULL OUTER JOIN n ON o.source = n.source AND o.h = n.h),
             |a AS (SELECT source,
             |    sum(CASE WHEN in_new AND NOT in_old THEN 1 ELSE 0 END) AS n_added,
             |    sum(CASE WHEN in_old AND NOT in_new THEN 1 ELSE 0 END) AS n_removed,
             |    sum(CASE WHEN in_old AND in_new THEN 1 ELSE 0 END) AS n_kept
             |  FROM j GROUP BY 1)
             |SELECT source, n_added::BIGINT AS n_added,
             |  n_removed::BIGINT AS n_removed, n_kept::BIGINT AS n_kept,
             |  (n_removed + n_kept)::BIGINT AS n_old,
             |  CASE WHEN n_removed + n_kept = 0 THEN NULL
             |       ELSE CAST(floor((n_added + n_removed) * 10000.0
             |         / (n_removed + n_kept)) AS BIGINT) END AS churn_bp
             |FROM a""".stripMargin),
      (s, dir) => {
        val d = t(s, dir, "documents")
        graft.pipeline.ReleaseDiff.contentDiff(
          d.filter(col("doc_id") % 10 =!= 9),
          d.filter(col("doc_id") % 10 =!= 0), "source", "text")
      }),

    // ---- dedup mix-shift report (Dedup.dedupMixShift): what keep-best
    //      near-dup dedup does to the per-source mixture — the post-dedup
    //      composition a sampler actually sees. Reuses the memoized
    //      q54/q87 pair list; oracle = the q282 closure + rollup.
    GraftQuery("q305_dedup_mix_shift",
      Some("WITH RECURSIVE " + jaccPairCteSql + ",\n" + ccCteSqlOf("p") + """,
             |k AS (SELECT d.source FROM documents d LEFT JOIN cc ON cc.id = d.doc_id
             |  QUALIFY row_number() OVER (
             |    PARTITION BY coalesce(cc.cluster_id, d.doc_id)
             |    ORDER BY d.n_chars DESC, d.doc_id) = 1),
             |raw AS (SELECT source, count(*) AS n_raw FROM documents GROUP BY 1),
             |kc AS (SELECT source, count(*) AS n_kept FROM k GROUP BY 1)
             |SELECT raw.source, raw.n_raw::BIGINT AS n_raw,
             |  coalesce(kc.n_kept, 0)::BIGINT AS n_kept,
             |  CAST(floor(coalesce(kc.n_kept, 0) * 10000.0 / raw.n_raw) AS BIGINT) AS kept_bp
             |FROM raw LEFT JOIN kc USING (source)""".stripMargin),
      (s, dir) => Dedup.dedupMixShift(
        t(s, dir, "documents").select("doc_id", "source", "n_chars"),
        "doc_id", jaccardPairs(s, dir), col("n_chars"), "source")),

    // ---- split leak audit (DomainStats.splitLeakAudit): near-dup pairs
    //      straddling an eval boundary under the domain split vs a naive
    //      doc split — the measured residual leakage of each scheme
    //      (cross-host syndication leaks under both; this is the number
    //      that decides whether a release needs the cluster-level split).
    GraftQuery("q306_split_leak_audit",
      Some(s"""WITH $urlCteSql,
              |$jaccPairCteSql,
              |lab AS (SELECT c.doc_id, ${splitCaseSql("domain")} AS dom_split,
              |    ${splitCaseSql("doc_id::VARCHAR")} AS doc_split
              |  FROM c),
              |j AS (SELECT la.dom_split AS da, lb.dom_split AS db,
              |    la.doc_split AS ca, lb.doc_split AS cb
              |  FROM p JOIN lab la ON la.doc_id = p.id_a
              |         JOIN lab lb ON lb.doc_id = p.id_b)
              |SELECT count(*)::BIGINT AS n_pairs,
              |  coalesce(sum(CASE WHEN da <> db THEN 1 ELSE 0 END), 0)::BIGINT AS cross_domain_pairs,
              |  coalesce(sum(CASE WHEN ca <> cb THEN 1 ELSE 0 END), 0)::BIGINT AS cross_doc_pairs,
              |  CASE WHEN count(*) = 0 THEN 0
              |       ELSE CAST(floor(sum(CASE WHEN da <> db THEN 1 ELSE 0 END) * 10000.0 / count(*)) AS BIGINT)
              |  END AS cross_domain_bp,
              |  CASE WHEN count(*) = 0 THEN 0
              |       ELSE CAST(floor(sum(CASE WHEN ca <> cb THEN 1 ELSE 0 END) * 10000.0 / count(*)) AS BIGINT)
              |  END AS cross_doc_bp
              |FROM j""".stripMargin),
      (s, dir) => DomainStats.splitLeakAudit(
        t(s, dir, "documents").withColumn("url", syntheticUrl),
        "url", "doc_id", jaccardPairs(s, dir))),

    // ---- curation pipeline: the round-7 domain layer as ONE plan —
    //      canonicalize → domain keep/drop on RAW token stats (the q297
    //      rule) → soft-dedup weights over whole-corpus clusters (q303) →
    //      domain split (q300) → per-split masses. Every shuffle carries
    //      domains/ids/weights, never text.
    GraftQuery("q307_curation_pipeline",
      Some("WITH RECURSIVE " + urlCteSql + """,
             |st AS (SELECT c.doc_id, c.domain,
             |    len(string_split_regex(trim(d.text), '\s+')) AS ntok
             |  FROM c JOIN documents d USING (doc_id)),
             |""".stripMargin + keptDomainsCteSqlOf("st", "ntok") + ",\n" +
        jaccPairCteSql + ",\n" + clusterWeightCteSqlOf("p", "documents") + ",\n" +
        releaseReportSql("st", "ntok", "total_tokens", byCluster = false)),
      (s, dir) => {
        val d = t(s, dir, "documents").withColumn("url", syntheticUrl)
        val keptDomains = DomainStats.qualityRollup(d, "url", "text",
            minTokens = 40, maxLowBp = 4000)
          .filter(col("kept") === 1)
          .select(col("domain").as("__domain"))
        val kept = d
          .withColumn("__domain", UrlCanon.registeredDomain(col("url")))
          .join(broadcast(keptDomains), "__domain")
        val (_, weighted) = clusterWeights(kept, jaccardPairs(s, dir))
        splitMasses(weighted, "__domain", "n_domains",
          Seq("__ntok" -> "total_tokens"),
          _.withColumn("__ntok", TextAnalysis.tokenCount(col("text"))))
      }),

    // ---- CCNet-style PARAGRAPH-level dedup (Dedup.paragraphDedup):
    //      content-defined chunking (boundary after tokens whose md5
    //      first byte % 8 == 0 — offset-invariant, so passages copied
    //      between documents chunk into identical paragraphs), paragraph
    //      hash keeper window, per-source duplicate-mass rollup. The
    //      boilerplate measurement document-level dedup cannot see.
    //      Oracle derives the same paragraphs via a per-doc boundary
    //      prefix sum + ordered string_agg.
    GraftQuery("q308_paragraph_dedup",
      Some(("""WITH """ + paraCteSql + """,
             |k AS (SELECT *, row_number() OVER (
             |    PARTITION BY md5(para) ORDER BY doc_id, para_idx) AS rk FROM paras)
             |SELECT source, count(*)::BIGINT AS n_paras,
             |  sum(n_tok)::BIGINT AS n_tokens,
             |  sum(CASE WHEN rk > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_paras,
             |  sum(CASE WHEN rk > 1 THEN n_tok ELSE 0 END)::BIGINT AS dup_tokens,
             |  count(DISTINCT CASE WHEN rk > 1 THEN doc_id END)::BIGINT AS n_docs_affected,
             |  CAST(floor(sum(CASE WHEN rk > 1 THEN n_tok ELSE 0 END) * 10000.0
             |    / sum(n_tok)) AS BIGINT) AS dup_token_bp
             |FROM k GROUP BY 1""").stripMargin),
      (s, dir) => Dedup.paragraphDedup(
        t(s, dir, "documents"), "doc_id", "text", "source", grain = 8)),

    // ---- the CCNet operation itself (Dedup.paragraphDedupClean):
    //      rebuild every doc with duplicate paragraphs excised. Text
    //      never shuffles: only the drop-index lists travel; the rebuild
    //      re-chunks map-side and filters dropped positions.
    GraftQuery("q309_paragraph_dedup_clean",
      Some(("""WITH """ + paraCteSql + """,
             |k AS (SELECT doc_id, para_idx, para, row_number() OVER (
             |    PARTITION BY md5(para) ORDER BY doc_id, para_idx) AS rk FROM paras)
             |SELECT doc_id,
             |  coalesce(string_agg(CASE WHEN rk = 1 THEN para END, ' '
             |    ORDER BY para_idx), '') AS clean_text,
             |  count(*)::BIGINT AS n_paras,
             |  sum(CASE WHEN rk > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dropped
             |FROM k GROUP BY 1""").stripMargin),
      (s, dir) => Dedup.paragraphDedupClean(
        t(s, dir, "documents"), "doc_id", "text", grain = 8)),

    // ---- per-domain boilerplate report (DomainStats.domainBoilerplate):
    //      the paragraph-dup layer rolled up to the registered domain,
    //      split into WITHIN-domain duplicate mass (template/boilerplate —
    //      the domain-cap companion signal) vs CROSS-domain (syndication).
    //      ONE window computes keeper rank + first-occurrence domain in
    //      the same frame; ONE domain-keyed rollup.
    GraftQuery("q310_domain_boilerplate",
      Some((s"""WITH $urlCteSql,
               |""" + paraCteSql + """,
               |pd AS (SELECT p.doc_id, p.para_idx, p.para, p.n_tok, c.domain
               |  FROM paras p JOIN c USING (doc_id)),
               |k AS (SELECT *, row_number() OVER (
               |    PARTITION BY md5(para) ORDER BY doc_id, para_idx) AS rk,
               |  first_value(domain) OVER (
               |    PARTITION BY md5(para) ORDER BY doc_id, para_idx) AS fd
               |  FROM pd)
               |SELECT domain, count(DISTINCT doc_id)::BIGINT AS n_docs,
               |  count(*)::BIGINT AS n_paras,
               |  sum(n_tok)::BIGINT AS n_tokens,
               |  sum(CASE WHEN rk > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_paras,
               |  sum(CASE WHEN rk > 1 AND fd = domain THEN 1 ELSE 0 END)::BIGINT AS n_dup_within,
               |  sum(CASE WHEN rk > 1 AND fd <> domain THEN 1 ELSE 0 END)::BIGINT AS n_dup_cross,
               |  sum(CASE WHEN rk > 1 AND fd = domain THEN n_tok ELSE 0 END)::BIGINT AS within_tokens,
               |  CAST(floor(sum(CASE WHEN rk > 1 AND fd = domain THEN n_tok ELSE 0 END)
               |    * 10000.0 / sum(n_tok)) AS BIGINT) AS boiler_bp
               |FROM k GROUP BY 1""").stripMargin),
      (s, dir) => DomainStats.domainBoilerplate(
        t(s, dir, "documents").withColumn("url", syntheticUrl),
        "url", "doc_id", "text", grain = 8)),

    // ---- per-domain template catalog (DomainStats.templateCatalog):
    //      the audit artifact of the boilerplate family — paragraphs
    //      recurring in >= 3 DISTINCT docs of the SAME domain, with
    //      reach/occurrence/token-mass evidence. One explode, one
    //      (domain, ph) hash agg; min(paragraph) is exact (all
    //      occurrences of a ph are byte-identical).
    GraftQuery("q311_template_catalog",
      Some((s"""WITH $urlCteSql,
               |""" + paraCteSql + """,
               |pd AS (SELECT p.doc_id, p.para, p.n_tok, c.domain
               |  FROM paras p JOIN c USING (doc_id))
               |SELECT domain, md5(para) AS ph, min(para) AS paragraph,
               |  count(DISTINCT doc_id)::BIGINT AS n_docs,
               |  count(*)::BIGINT AS n_occurrences,
               |  sum(n_tok)::BIGINT AS template_tokens
               |FROM pd GROUP BY 1, 2
               |HAVING count(DISTINCT doc_id) >= 3""").stripMargin),
      (s, dir) => DomainStats.templateCatalog(
        t(s, dir, "documents").withColumn("url", syntheticUrl),
        "url", "doc_id", "text", minDocs = 3, grain = 8)),

    // ---- within-domain template STRIP (DomainStats.templateStrip):
    //      boilerplate removal — rebuild every doc with its domain's
    //      template paragraphs (>= 3 distinct docs, same domain) excised,
    //      ALL occurrences dropped (the boilerplate rule; q309's
    //      keep-first is the dedup rule). Text never shuffles: template
    //      keys from a hash agg, drop-index lists to the map-side
    //      rebuild. Cross-domain syndication deliberately untouched.
    GraftQuery("q312_template_strip",
      Some((s"""WITH $urlCteSql,
               |""" + paraCteSql + """,
               |pd AS (SELECT p.doc_id, p.para_idx, p.para, c.domain
               |  FROM paras p JOIN c USING (doc_id)),
               |tm AS (SELECT domain, md5(para) AS ph FROM pd
               |  GROUP BY 1, 2 HAVING count(DISTINCT doc_id) >= 3)
               |SELECT doc_id,
               |  coalesce(string_agg(CASE WHEN tm.ph IS NULL THEN para END,
               |    ' ' ORDER BY para_idx), '') AS clean_text,
               |  count(*)::BIGINT AS n_paras,
               |  sum(CASE WHEN tm.ph IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
               |    AS n_dropped
               |FROM pd LEFT JOIN tm
               |  ON tm.domain = pd.domain AND tm.ph = md5(pd.para)
               |GROUP BY 1""").stripMargin),
      (s, dir) => DomainStats.templateStrip(
        t(s, dir, "documents").withColumn("url", syntheticUrl),
        "url", "doc_id", "text", minDocs = 3, grain = 8)),

    // ---- FUZZY template catalog (DomainStats.fuzzyTemplateCatalog):
    //      within-domain clusters of NEAR-identical paragraphs (footer
    //      variants exact hashing can't group — every variant has a
    //      distinct md5). md5-portable minhash-LSH over paragraph token
    //      sets (grain 16 + unigram shingles: CDC paragraphs average
    //      ~grain tokens, so doc-level trigrams are brittle here — a
    //      one-token edit in an 8-token paragraph halves its trigram
    //      Jaccard), exact-Jaccard verify by integer cross-multiply
    //      (5i >= 4u), connected components per domain, q87-class
    //      recursive-closure oracle. Cluster name = min member ph.
    GraftQuery("q313_fuzzy_template_catalog",
      Some(("WITH RECURSIVE " + fuzzyCteSql + s""",
               |pc AS (SELECT domain, cluster_id, count(*)::BIGINT AS n_variants,
               |    min(para) AS paragraph, min(ph) AS cluster
               |  FROM mem GROUP BY 1, 2),
               |rich AS (SELECT m.domain, m.cluster_id, pd.doc_id, pd.n_tok
               |  FROM pd JOIN mem m ON m.domain = pd.domain AND m.ph = md5(pd.para)),
               |rc AS (SELECT domain, cluster_id,
               |    count(DISTINCT doc_id)::BIGINT AS n_docs,
               |    count(*)::BIGINT AS n_occurrences,
               |    sum(n_tok)::BIGINT AS template_tokens
               |  FROM rich GROUP BY 1, 2)
               |SELECT pc.domain, pc.cluster,
               |  pc.paragraph, pc.n_variants, rc.n_docs, rc.n_occurrences,
               |  rc.template_tokens
               |FROM pc JOIN rc USING (domain, cluster_id)
               |WHERE rc.n_docs >= ${FuzzyOp.minDocs} AND pc.n_variants >= 2""").stripMargin),
      (s, dir) => DomainStats.fuzzyTemplateCatalog(
        t(s, dir, "documents").withColumn("url", syntheticUrl),
        "url", "doc_id", "text", minDocs = FuzzyOp.minDocs,
        grain = FuzzyOp.grain, shingleK = FuzzyOp.shingleK,
        numHashes = FuzzyOp.numHashes, bands = FuzzyOp.bands,
        jacNum = FuzzyOp.jacNum, jacDen = FuzzyOp.jacDen,
        membersOpt = Some(domainFuzzyMembersMemo(s, dir)))),

    // ---- per-domain boilerplate RATE, exact vs fuzzy-extra
    //      (DomainStats.domainFuzzyBoilerplate): how much of each
    //      domain's token mass sits in exact templates (>= 2 distinct
    //      docs) and how much MORE the fuzzy clusters surface (member
    //      occurrences not already exact templates). The domain-grain
    //      curation signal the template family exists for; shares the
    //      fuzzy CTE chain with q313 so the operating point cannot
    //      drift between the two oracles.
    GraftQuery("q314_domain_fuzzy_boilerplate",
      Some(("WITH RECURSIVE " + fuzzyCteSql + ",\n" + fuzzyKeysCteSql + """,
               |agg AS (SELECT pd.domain,
               |    count(*)::BIGINT AS n_paras,
               |    sum(pd.n_tok)::BIGINT AS n_tokens,
               |    sum(CASE WHEN ex.ph IS NOT NULL THEN pd.n_tok
               |        ELSE 0 END)::BIGINT AS exact_tpl_tokens,
               |    sum(CASE WHEN ex.ph IS NULL AND fk.ph IS NOT NULL
               |        THEN pd.n_tok ELSE 0 END)::BIGINT AS fuzzy_extra_tokens
               |  FROM pd
               |  LEFT JOIN ex ON ex.domain = pd.domain AND ex.ph = md5(pd.para)
               |  LEFT JOIN fk ON fk.domain = pd.domain AND fk.ph = md5(pd.para)
               |  GROUP BY 1)
               |SELECT domain, n_paras, n_tokens, exact_tpl_tokens,
               |  fuzzy_extra_tokens,
               |  CAST(floor((exact_tpl_tokens + fuzzy_extra_tokens) * 10000.0
               |    / n_tokens) AS BIGINT) AS boiler_bp
               |FROM agg""").stripMargin),
      (s, dir) => DomainStats.domainFuzzyBoilerplate(
        t(s, dir, "documents").withColumn("url", syntheticUrl),
        "url", "doc_id", "text", minDocs = FuzzyOp.minDocs,
        grain = FuzzyOp.grain, shingleK = FuzzyOp.shingleK,
        numHashes = FuzzyOp.numHashes, bands = FuzzyOp.bands,
        jacNum = FuzzyOp.jacNum, jacDen = FuzzyOp.jacDen,
        membersOpt = Some(domainFuzzyMembersMemo(s, dir)))),

    // ---- INCREMENTAL template strip (DomainStats.templateIndex +
    //      templateStripIncremental): a new ingest batch (40 replayed
    //      pages with fresh ids + 20 lightly-edited replays) is stripped
    //      against templates qualifying on COMBINED corpus-index + batch
    //      reach — corpus text never re-read, per-batch cost O(batch +
    //      index). Batch ids shift by +1e8/+2e8 — scale-proof
    //      disjointness from corpus ids (the first wrapper's +10000
    //      collided with REAL sf1 doc_ids and the sf1 gate caught the
    //      double-count; ids must be fresh for counts to add). Both
    //      shifts are ≡ 0 mod 5, so
    //      syntheticUrl lands the replays on the SAME registered domains
    //      — what makes the incremental strip bite). Oracle replays the
    //      union corpus+batch (ids disjoint ⇒ union distinct-doc counts
    //      == index + batch sums) through the shared paragraph CTE.
    GraftQuery("q315_template_strip_incremental",
      Some((s"""WITH bdocs AS (
               |  SELECT doc_id + 100000000 AS doc_id, source, lang, text
               |  FROM documents WHERE doc_id < 40
               |  UNION ALL
               |  SELECT doc_id + 200000000, source, lang, text || ' zz9'
               |  FROM documents WHERE doc_id >= 40 AND doc_id < 60),
               |alld AS (SELECT doc_id, source, lang, text, 0 AS is_batch
               |    FROM documents
               |  UNION ALL SELECT doc_id, source, lang, text, 1 FROM bdocs),
               |u AS (SELECT doc_id, $urlBuildSql AS url FROM alld),
               |c0 AS ($urlCanonSql),
               |c AS ($urlAssembleSql),
               |""" + paraCteSqlOf(8, from = "alld") + """,
               |pd AS (SELECT p.doc_id, a.is_batch, p.para_idx, p.para,
               |    c.domain
               |  FROM paras p JOIN c USING (doc_id)
               |  JOIN alld a USING (doc_id)),
               |tpl AS (SELECT domain, md5(para) AS ph FROM pd
               |  GROUP BY 1, 2 HAVING count(DISTINCT doc_id) >= 3)
               |SELECT doc_id,
               |  coalesce(string_agg(CASE WHEN tpl.ph IS NULL THEN para END,
               |    ' ' ORDER BY para_idx), '') AS clean_text,
               |  count(*)::BIGINT AS n_paras,
               |  sum(CASE WHEN tpl.ph IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
               |    AS n_dropped
               |FROM pd LEFT JOIN tpl
               |  ON tpl.domain = pd.domain AND tpl.ph = md5(pd.para)
               |WHERE pd.is_batch = 1
               |GROUP BY 1""").stripMargin),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val index = DomainStats.templateIndex(
          docs.withColumn("url", syntheticUrl),
          "url", "doc_id", "text", grain = 8)
        val batch = docs.filter(col("doc_id") < 40)
          .select((col("doc_id") + 100000000L).as("doc_id"), col("source"),
            col("lang"), col("text"))
          .unionAll(docs.filter(col("doc_id") >= 40 && col("doc_id") < 60)
            .select((col("doc_id") + 200000000L).as("doc_id"), col("source"),
              col("lang"), concat(col("text"), lit(" zz9")).as("text")))
          .withColumn("url", syntheticUrl)
        DomainStats.templateStripIncremental(
          index, batch, "url", "doc_id", "text", minDocs = 3, grain = 8)
      }),

    // ---- FUZZY template strip (DomainStats.fuzzyTemplateStrip): the
    //      actionable counterpart of the q313 catalog — rebuild every doc
    //      with ALL occurrences of exact templates AND qualifying fuzzy
    //      cluster members excised (drop-all boilerplate rule; footer
    //      variants with drifting years disappear corpus-wide though no
    //      two copies share a hash). Shares the fuzzy CTE chain with
    //      q313/q314; strip tail is the q312/q315 shape.
    GraftQuery("q316_fuzzy_template_strip",
      Some(("WITH RECURSIVE " + fuzzyCteSql + ",\n" + fuzzyKeysCteSql + """,
               |allk AS (SELECT domain, ph FROM ex
               |  UNION SELECT domain, ph FROM fk)
               |SELECT doc_id,
               |  coalesce(string_agg(CASE WHEN ak.ph IS NULL THEN para END,
               |    ' ' ORDER BY para_idx), '') AS clean_text,
               |  count(*)::BIGINT AS n_paras,
               |  sum(CASE WHEN ak.ph IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
               |    AS n_dropped
               |FROM pd LEFT JOIN allk ak
               |  ON ak.domain = pd.domain AND ak.ph = md5(pd.para)
               |GROUP BY 1""").stripMargin),
      (s, dir) => DomainStats.fuzzyTemplateStrip(
        t(s, dir, "documents").withColumn("url", syntheticUrl),
        "url", "doc_id", "text", minDocs = FuzzyOp.minDocs,
        grain = FuzzyOp.grain, shingleK = FuzzyOp.shingleK,
        numHashes = FuzzyOp.numHashes, bands = FuzzyOp.bands,
        jacNum = FuzzyOp.jacNum, jacDen = FuzzyOp.jacDen,
        membersOpt = Some(domainFuzzyMembersMemo(s, dir)))),

    // ---- curation pipeline v2: q307 with the round-8 paragraph layer —
    //      template drop-all (q312) and keep-first paragraph dedup (q309)
    //      before the keep/drop, which now reads the CLEANED token stats.
    //      Chaining at paragraph-row grain is exact (CDC boundaries are
    //      per-token; see DomainStats.cleanTokenStats).
    GraftQuery("q317_curation_pipeline_v2",
      Some(cleanedReleaseSql(capped = false, byCluster = false, templateCoreSql)),
      (s, dir) => cleanedRelease(s, dir, capped = false, byCluster = false)(
        DomainStats.cleanTokenStats(_, "url", "doc_id", "text", minDocs = 3, grain = 8))),

    // ---- cross-domain SYNDICATION catalog
    //      (DomainStats.syndicationCatalog): the dedup-side twin of the
    //      q311 template catalog — paragraphs recurring on >= 3 DISTINCT
    //      registered domains (press-wire copy, licence blocks, scraped
    //      content), with first-occurrence attribution (q310's ordered
    //      window) and reach/occurrence/token evidence; text joins in
    //      once, only for qualifying hashes. A one-domain template never
    //      appears here — that separation is PipelineSpec-pinned.
    GraftQuery("q318_syndication_catalog",
      Some((s"""WITH $urlParaCteSql,
               |k AS (SELECT *, first_value(domain) OVER (
               |    PARTITION BY md5(para) ORDER BY doc_id, para_idx) AS fd
               |  FROM pdx),
               |a AS (SELECT md5(para) AS ph, min(para) AS paragraph,
               |    max(fd) AS first_domain,
               |    count(DISTINCT domain) AS n_domains,
               |    count(DISTINCT doc_id) AS n_docs,
               |    count(*) AS n_occurrences, sum(n_tok) AS total_tokens
               |  FROM k GROUP BY 1)
               |SELECT ph, paragraph, first_domain,
               |  n_domains::BIGINT AS n_domains, n_docs::BIGINT AS n_docs,
               |  n_occurrences::BIGINT AS n_occurrences,
               |  total_tokens::BIGINT AS total_tokens
               |FROM a WHERE n_domains >= 3""").stripMargin),
      (s, dir) => DomainStats.syndicationCatalog(
        t(s, dir, "documents").withColumn("url", syntheticUrl),
        "url", "doc_id", "text", minDomains = 3, grain = 8)),

    // ---- per-domain syndication rollup (DomainStats.domainSyndication):
    //      q318 turned into a domain-grain signal — copied-IN mass
    //      (occurrences of qualifying cross-domain paragraphs first seen
    //      elsewhere) vs paragraphs this domain ORIGINATED; with q310's
    //      boiler_bp it completes the repetition picture (within-domain
    //      chrome there, cross-domain copying here). Qualification is a
    //      ph-keyed agg joined back — no DISTINCT-in-window.
    GraftQuery("q319_domain_syndication",
      Some((s"""WITH $urlParaCteSql,
               |q AS (SELECT md5(para) AS ph FROM pdx
               |  GROUP BY 1 HAVING count(DISTINCT domain) >= 3),
               |k AS (SELECT pdx.*, first_value(domain) OVER (
               |    PARTITION BY md5(para) ORDER BY doc_id, para_idx) AS fd,
               |    (md5(para) IN (SELECT ph FROM q)) AS isq
               |  FROM pdx)
               |SELECT domain, count(*)::BIGINT AS n_paras,
               |  sum(n_tok)::BIGINT AS n_tokens,
               |  sum(CASE WHEN isq AND fd <> domain THEN 1 ELSE 0 END)::BIGINT AS n_synd_in,
               |  sum(CASE WHEN isq AND fd <> domain THEN n_tok ELSE 0 END)::BIGINT AS synd_in_tokens,
               |  count(DISTINCT CASE WHEN isq AND fd = domain THEN md5(para) END)::BIGINT AS n_synd_src,
               |  CAST(floor(sum(CASE WHEN isq AND fd <> domain THEN n_tok ELSE 0 END)
               |    * 10000.0 / sum(n_tok)) AS BIGINT) AS synd_in_bp
               |FROM k GROUP BY 1""").stripMargin),
      (s, dir) => DomainStats.domainSyndication(
        t(s, dir, "documents").withColumn("url", syntheticUrl),
        "url", "doc_id", "text", minDomains = 3, grain = 8)),

    // ---- leakage-safe CLUSTER-level split (Dedup.clusterSplit): the
    //      scheme the q306 audit justifies — every near-dup cluster
    //      member lands in one bucket (split hashed from the cluster's
    //      min id; singletons hash their own id), so NO near-dup pair
    //      straddles an eval boundary, including the cross-host
    //      syndicated pairs that leak under BOTH the domain split and a
    //      naive doc split. Reuses the memoized q54/q87 pair list;
    //      oracle replays the closure + the same md5 split labels.
    GraftQuery("q320_cluster_split",
      Some(s"""WITH RECURSIVE $jaccPairCteSql,
             |${ccCteSqlOf("p")},
             |eff AS (SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS cl,
             |    len(string_split_regex(trim(d.text), '\\s+')) AS ntok
             |  FROM documents d LEFT JOIN cc ON cc.id = d.doc_id),
             |lab AS (SELECT cl, ntok, ${splitCaseSql("cl::VARCHAR")} AS split,
             |    ${splitCaseSql("doc_id::VARCHAR")} AS doc_split
             |  FROM eff)
             |SELECT split, count(DISTINCT cl)::BIGINT AS n_clusters,
             |  count(*)::BIGINT AS n_docs, sum(ntok)::BIGINT AS total_tokens,
             |  sum(CASE WHEN doc_split <> split THEN 1 ELSE 0 END)::BIGINT AS n_docs_naive_other
             |FROM lab GROUP BY 1""".stripMargin),
      (s, dir) => Dedup.clusterSplit(
        t(s, dir, "documents"), "doc_id", jaccardPairs(s, dir), "text")),

    // ---- cross-domain SYNDICATION STRIP (DomainStats.syndicationStrip):
    //      keep-origin semantics — qualifying syndicated paragraphs
    //      (>= 3 distinct domains) are excised from every domain EXCEPT
    //      the one that published them first (press-wire copy is content
    //      on the wire service, noise everywhere else; neither dedup's
    //      keep-first nor the template family's drop-all). Non-recursive
    //      oracle -> sf1-gateable like q318/q319.
    GraftQuery("q321_syndication_strip",
      Some((s"""WITH $urlCteSql,
               |""" + paraCteSqlOf(8) + """,
               |pdx AS (SELECT p.doc_id, p.para_idx, p.para, c.domain
               |  FROM paras p JOIN c USING (doc_id)),
               |q AS (SELECT md5(para) AS ph FROM pdx
               |  GROUP BY 1 HAVING count(DISTINCT domain) >= 3),
               |k AS (SELECT pdx.*, first_value(domain) OVER (
               |    PARTITION BY md5(para) ORDER BY doc_id, para_idx) AS fd,
               |    (md5(para) IN (SELECT ph FROM q)) AS isq
               |  FROM pdx)
               |SELECT doc_id,
               |  coalesce(string_agg(CASE WHEN NOT (isq AND fd <> domain)
               |    THEN para END, ' ' ORDER BY para_idx), '') AS clean_text,
               |  count(*)::BIGINT AS n_paras,
               |  sum(CASE WHEN isq AND fd <> domain THEN 1 ELSE 0 END)::BIGINT
               |    AS n_dropped
               |FROM k GROUP BY 1""").stripMargin),
      (s, dir) => DomainStats.syndicationStrip(
        t(s, dir, "documents").withColumn("url", syntheticUrl),
        "url", "doc_id", "text", minDomains = 3, grain = 8)),

    // ---- release pipeline v3: q317 under the q320 CLUSTER split, the
    //      leak-free release artifact: no near-dup pair can straddle an
    //      eval boundary, which neither q300's domain split nor a doc
    //      split gives.
    GraftQuery("q322_release_pipeline_v3",
      Some(cleanedReleaseSql(capped = false, byCluster = true, templateCoreSql)),
      (s, dir) => cleanedRelease(s, dir, capped = false, byCluster = true)(
        DomainStats.cleanTokenStats(_, "url", "doc_id", "text", minDocs = 3, grain = 8))),

    // ---- syndication-weighted domain cap (UrlCanon.capDedupedBy): the
    //      q295 anti-domination cap with a PER-DOMAIN budget derived from
    //      q319's copied-in share — a domain whose mass is mostly
    //      syndicated-in earns fewer keeper slots (base 3; -1 at >= 700
    //      bp, -2 at >= 1000 bp, floor 1) than one that originates.
    //      Caps frame is broadcast; one domain-keyed rank window.
    GraftQuery("q323_syndication_weighted_cap",
      Some("WITH " + urlParaCteSql + ",\n" + capCteSqlOf(3, 1, 1) + """
             |SELECT kc.domain, caps.cap::BIGINT AS cap,
             |  count(*)::BIGINT AS n_unique,
             |  sum(CASE WHEN kc.rk <= caps.cap THEN 1 ELSE 0 END)::BIGINT AS n_kept,
             |  sum(CASE WHEN kc.rk <= caps.cap THEN keeper_id ELSE 0 END)::BIGINT AS kept_id_sum
             |FROM kc JOIN caps USING (domain) GROUP BY 1, 2""".stripMargin),
      (s, dir) => {
        val withUrl = t(s, dir, "documents").withColumn("url", syntheticUrl)
        // caps feeds the rank-window join AND the final report: pin the
        // domain-cardinality frame so the corpus-scale syndication chain
        // behind it runs once
        val caps = DomainStats.domainSyndication(
            withUrl, "url", "doc_id", "text", minDomains = 3, grain = 8)
          .select(col("domain").as("url_domain"),
            greatest(lit(1), lit(3) -
              when(col("synd_in_bp") >= 1000, 2)
                .when(col("synd_in_bp") >= 700, 1).otherwise(0)).as("cap"))
          .localCheckpoint()
        val dd = UrlCanon.dedupByUrl(withUrl, "url", "doc_id")
        val capped = UrlCanon.capDedupedBy(dd, caps, defaultCap = 3)
        dd.groupBy(col("url_domain").as("domain"))
          .agg(count(lit(1)).as("n_unique"))
          .join(capped.groupBy(col("url_domain").as("domain"))
            .agg(count(lit(1)).as("n_kept"),
              sum("keeper_id").as("kept_id_sum")), "domain")
          .join(caps.select(col("url_domain").as("domain"),
            col("cap").cast("long").as("cap")), "domain")
      }),

    // ---- release pipeline v4: q322 over the syndication-weighted capped
    //      population (q323's rule at release budgets: base 30, -10 at
    //      >= 700 bp copied-in, -20 at >= 1000 bp, floor 5, computed over
    //      the FULL population; q323's base-3 budget is the cap-binding
    //      TEST point, not a release size), with the cross-domain
    //      syndication strip (keep-origin, stats over the CAPPED
    //      population) added to the cleaning core. Precedence is pinned
    //      in DomainStats.cleanTokenStatsV2 (template outranks
    //      syndication; keep-origin does not shield within-domain
    //      repetition; the keep-first slot is consumed by strip survivors
    //      only) and in PipelineSpec.
    GraftQuery("q324_release_pipeline_v4",
      Some(cleanedReleaseSql(capped = true, byCluster = true,
        syndCoreSqlOf(fuzzy = false), "\n  LEFT JOIN sd USING (doc_id)",
        Seq("coalesce(sd.n_synd, 0)" -> "synd_dropped"))),
      (s, dir) => cleanedRelease(s, dir, capped = true,
          byCluster = true, "n_synd_dropped" -> "synd_dropped")(
        DomainStats.cleanTokenStatsV2(_, "url", "doc_id", "text",
          minDocs = 3, minDomains = 3, grain = 8))),

    // ---- FUZZY syndication catalog (DomainStats.fuzzySyndicationCatalog):
    //      press-wire copy that copiers lightly EDIT never shares a hash
    //      across domains (exact catalog blind) and the fuzzy template
    //      family clusters per-domain (also blind) — this variant
    //      clusters GLOBALLY and qualifies on >= 3 distinct registered
    //      domains + >= 2 variants, with first-occurrence origin
    //      attribution. Shares the FuzzyOp operating point; the oracle
    //      replays the same md5-portable minhash chain minus the domain
    //      key (fuzzySyndCteSql).
    GraftQuery("q325_fuzzy_syndication_catalog",
      Some(("WITH RECURSIVE " + fuzzySyndCteSql + """,
               |gocc AS (SELECT pd.doc_id, pd.domain, pd.para_idx, pd.n_tok,
               |    m.ph, m.cluster_id
               |  FROM pd JOIN gmem m ON m.ph = md5(pd.para)),
               |gatt AS (SELECT *, first_value(domain) OVER (
               |    PARTITION BY cluster_id ORDER BY doc_id, para_idx) AS fd
               |  FROM gocc),
               |groll AS (SELECT cluster_id, max(fd) AS origin_domain,
               |    count(DISTINCT domain) AS n_domains,
               |    count(DISTINCT doc_id) AS n_docs,
               |    count(*) AS n_occurrences, sum(n_tok) AS total_tokens,
               |    count(DISTINCT ph) AS n_variants
               |  FROM gatt GROUP BY 1),
               |grep AS (SELECT cluster_id, min(ph) AS cluster,
               |    min(para) AS paragraph
               |  FROM gmem GROUP BY 1)
               |SELECT grep.cluster, grep.paragraph, groll.origin_domain,
               |  groll.n_variants::BIGINT AS n_variants,
               |  groll.n_domains::BIGINT AS n_domains,
               |  groll.n_docs::BIGINT AS n_docs,
               |  groll.n_occurrences::BIGINT AS n_occurrences,
               |  groll.total_tokens::BIGINT AS total_tokens
               |FROM groll JOIN grep USING (cluster_id)
               |WHERE groll.n_domains >= 3 AND groll.n_variants >= 2""").stripMargin),
      (s, dir) => DomainStats.fuzzySyndicationCatalog(
        t(s, dir, "documents").withColumn("url", syntheticUrl),
        "url", "doc_id", "text", minDomains = 3, grain = FuzzyOp.grain,
        shingleK = FuzzyOp.shingleK, numHashes = FuzzyOp.numHashes,
        bands = FuzzyOp.bands, jacNum = FuzzyOp.jacNum,
        jacDen = FuzzyOp.jacDen,
        membersOpt = Some(globalFuzzyMembersMemo(s, dir)))),

    // ---- FUZZY syndication strip (DomainStats.fuzzySyndicationStrip):
    //      q325's catalog made actionable with q321's keep-origin rule —
    //      qualifying global near-dup clusters excised from every domain
    //      except their first-occurrence domain. Completes the
    //      catalog→strip symmetry (q311→q312, q313→q316, q318→q321).
    GraftQuery("q326_fuzzy_syndication_strip",
      Some(("WITH RECURSIVE " + fuzzySyndCteSql + ",\n" +
        fuzzyDropCteSqlOf("pd") + """
               |SELECT pd.doc_id,
               |  coalesce(string_agg(CASE WHEN gd.para_idx IS NULL
               |    THEN pd.para END, ' ' ORDER BY pd.para_idx), '') AS clean_text,
               |  count(*)::BIGINT AS n_paras,
               |  sum(CASE WHEN gd.para_idx IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
               |    AS n_dropped
               |FROM pd LEFT JOIN gdrop gd
               |  ON gd.doc_id = pd.doc_id AND gd.para_idx = pd.para_idx
               |GROUP BY 1""").stripMargin),
      (s, dir) => DomainStats.fuzzySyndicationStrip(
        t(s, dir, "documents").withColumn("url", syntheticUrl),
        "url", "doc_id", "text", minDomains = 3, grain = FuzzyOp.grain,
        shingleK = FuzzyOp.shingleK, numHashes = FuzzyOp.numHashes,
        bands = FuzzyOp.bands, jacNum = FuzzyOp.jacNum,
        jacDen = FuzzyOp.jacDen,
        membersOpt = Some(globalFuzzyMembersMemo(s, dir)))),

    // ---- INCREMENTAL syndication strip (DomainStats.syndicationIndex +
    //      syndicationStripIncremental): the q315 incremental contract
    //      for the cross-domain family — a new ingest batch is stripped
    //      keep-origin, with qualification (>= 3 distinct domains) and
    //      origin attribution computed over corpus index + batch; the
    //      oracle replays the COMBINED corpus+batch semantics and takes
    //      the batch slice, proving index-path == full recompute. The
    //      q315 batch shape: 40 replayed docs + 20 one-token-extended.
    GraftQuery("q327_syndication_strip_incremental",
      Some((s"""WITH bdocs AS (
               |  SELECT doc_id + 100000000 AS doc_id, source, lang, text
               |  FROM documents WHERE doc_id < 40
               |  UNION ALL
               |  SELECT doc_id + 200000000, source, lang, text || ' zz9'
               |  FROM documents WHERE doc_id >= 40 AND doc_id < 60),
               |alld AS (SELECT doc_id, source, lang, text, 0 AS is_batch
               |    FROM documents
               |  UNION ALL SELECT doc_id, source, lang, text, 1 FROM bdocs),
               |u AS (SELECT doc_id, $urlBuildSql AS url FROM alld),
               |c0 AS ($urlCanonSql),
               |c AS ($urlAssembleSql),
               |""" + paraCteSqlOf(8, from = "alld") + """,
               |pd AS (SELECT p.doc_id, a.is_batch, p.para_idx, p.para,
               |    c.domain
               |  FROM paras p JOIN c USING (doc_id)
               |  JOIN alld a USING (doc_id)),
               |q AS (SELECT md5(para) AS ph FROM pd
               |  GROUP BY 1 HAVING count(DISTINCT domain) >= 3),
               |k AS (SELECT pd.*, first_value(domain) OVER (
               |    PARTITION BY md5(para) ORDER BY doc_id, para_idx) AS fd,
               |    (md5(para) IN (SELECT ph FROM q)) AS isq
               |  FROM pd)
               |SELECT doc_id,
               |  coalesce(string_agg(CASE WHEN NOT (isq AND fd <> domain)
               |    THEN para END, ' ' ORDER BY para_idx), '') AS clean_text,
               |  count(*)::BIGINT AS n_paras,
               |  sum(CASE WHEN isq AND fd <> domain THEN 1 ELSE 0 END)::BIGINT
               |    AS n_dropped
               |FROM k WHERE is_batch = 1
               |GROUP BY 1""").stripMargin),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val index = DomainStats.syndicationIndex(
          docs.withColumn("url", syntheticUrl),
          "url", "doc_id", "text", grain = 8)
        val batch = docs.filter(col("doc_id") < 40)
          .select((col("doc_id") + 100000000L).as("doc_id"), col("source"),
            col("lang"), col("text"))
          .unionAll(docs.filter(col("doc_id") >= 40 && col("doc_id") < 60)
            .select((col("doc_id") + 200000000L).as("doc_id"), col("source"),
              col("lang"), concat(col("text"), lit(" zz9")).as("text")))
          .withColumn("url", syntheticUrl)
        DomainStats.syndicationStripIncremental(
          index, batch, "url", "doc_id", "text", minDomains = 3, grain = 8)
      }),

    // ---- release pipeline v5: q324 with the FUZZY syndication layer
    //      (q326's keep-origin rule over qualifying GLOBAL near-dup
    //      clusters) between the template strip and the exact syndication
    //      strip. Precedence is pinned in DomainStats.cleanTokenCore
    //      (template > fuzzy-synd > exact-synd > keep-first; the
    //      >= 2-variant floor keeps the 1-variant byte-identical case with
    //      the exact rule, so neither subsumes the other) and exercised in
    //      PipelineSpec. The fuzzy layer runs at the exact family's grain
    //      (composing at paragraph-row grain requires ONE chunking) with
    //      the FuzzyOp operating point, over the CAPPED population.
    GraftQuery("q328_release_pipeline_v5",
      Some(cleanedReleaseSql(capped = true, byCluster = true,
        syndCoreSqlOf(fuzzy = true), "\n  LEFT JOIN sd USING (doc_id)",
        Seq("coalesce(sd.n_synd, 0)" -> "synd_dropped",
          "coalesce(sd.n_fz, 0)" -> "fuzzy_dropped"))),
      (s, dir) => cleanedRelease(s, dir, capped = true,
          byCluster = true, "n_synd_dropped" -> "synd_dropped",
          "n_fuzzy_dropped" -> "fuzzy_dropped")(
        DomainStats.cleanTokenStatsV3(_, "url", "doc_id", "text",
          minDocs = 3, minDomains = 3, grain = 8,
          shingleK = FuzzyOp.shingleK, numHashes = FuzzyOp.numHashes,
          bands = FuzzyOp.bands, jacNum = FuzzyOp.jacNum,
          jacDen = FuzzyOp.jacDen))),

    // ---- margin-based bitext mining (Similarity.bitextMine; Artetxe &
    //      Schwenk 2019, the LASER/CCMatrix criterion): align two
    //      embedding sides (label <= 4 vs >= 5 — two "languages" in one
    //      space) by ratio-margin against both endpoints' k-NN cosine
    //      floors, keep mutual best matches. Candidates via the
    //      md5-seeded Rademacher LSH (q58's replayable family); margins
    //      are exact integer arithmetic over basis-point cosines, so the
    //      oracle replays candidates, floors, margins and both argmax
    //      ranks bit-for-bit.
    GraftQuery("q329_bitext_mine",
      Some("""WITH dimchk AS (SELECT CASE
             |    WHEN min(len(embedding)) = 64 AND max(len(embedding)) = 64
             |    THEN 0 ELSE error('q329 oracle pins the pl plane CTE to 64 dims but the fixture embedding dim changed - regenerate generate_series(0, 63)') END AS z
             |  FROM embeddings),
             |e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb
             |  FROM embeddings),
             |qv AS (SELECT vec_id, i.i - 1 AS d,
             |    CAST(round(emb[i.i] * 1000000) AS BIGINT) AS q
             |  FROM e, unnest(generate_series(1, len(emb))) i(i)),
             |pl AS (SELECT t.t, j.j, d.d,
             |    CASE WHEN ('0x' || substr(md5('rp:' || t.t || ':' || j.j || ':' || d.d), 1, 1))::INT % 2 = 0
             |      THEN 1 ELSE -1 END AS s
             |  FROM generate_series(0, 15) t(t), generate_series(0, 5) j(j),
             |       generate_series(0, 63) d(d)),
             |dots AS (SELECT qv.vec_id, pl.t, pl.j, sum(qv.q * pl.s) AS dot
             |  FROM qv JOIN pl ON qv.d = pl.d GROUP BY 1, 2, 3),
             |sig AS (SELECT vec_id, t,
             |    sum(CASE WHEN dot > 0 THEN 1 << j ELSE 0 END)::BIGINT AS key
             |  FROM dots GROUP BY 1, 2),
             |src AS (SELECT vec_id, emb FROM e WHERE label <= 4),
             |tgt AS (SELECT vec_id, emb FROM e WHERE label >= 5),
             |cand AS (SELECT DISTINCT a.vec_id AS x, b.vec_id AS y
             |  FROM sig a JOIN sig b ON a.t = b.t AND a.key = b.key
             |  JOIN src ON src.vec_id = a.vec_id
             |  JOIN tgt ON tgt.vec_id = b.vec_id),
             |pc AS (SELECT x, y, CAST(round(cs * 10000) AS BIGINT) AS c
             |  FROM (SELECT cand.x, cand.y,
             |      list_cosine_similarity(s.emb, t.emb) AS cs
             |    FROM cand JOIN src s ON s.vec_id = cand.x
             |    JOIN tgt t ON t.vec_id = cand.y)
             |  WHERE cs > 0),
             |fx AS (SELECT x, sum(c) AS sx, count(*) AS cx FROM (
             |    SELECT x, c, row_number() OVER (
             |      PARTITION BY x ORDER BY c DESC, y) AS rk FROM pc)
             |  WHERE rk <= 4 GROUP BY x),
             |fy AS (SELECT y, sum(c) AS sy, count(*) AS cy FROM (
             |    SELECT y, c, row_number() OVER (
             |      PARTITION BY y ORDER BY c DESC, x) AS rk FROM pc)
             |  WHERE rk <= 4 GROUP BY y),
             |m AS (SELECT pc.x, pc.y, pc.c,
             |    CAST((2000000 * pc.c * fx.cx * fy.cy)
             |      // (fx.sx * fy.cy + fy.sy * fx.cx) AS BIGINT) AS margin
             |  FROM pc JOIN fx USING (x) JOIN fy USING (y)),
             |bx AS (SELECT x, y FROM (SELECT x, y, row_number() OVER (
             |    PARTITION BY x ORDER BY margin DESC, c DESC, y) AS rk
             |  FROM m) WHERE rk = 1),
             |by_ AS (SELECT x, y FROM (SELECT x, y, row_number() OVER (
             |    PARTITION BY y ORDER BY margin DESC, c DESC, x) AS rk
             |  FROM m) WHERE rk = 1)
             |SELECT m.x + dimchk.z AS src_id, m.y AS tgt_id,
             |  m.c AS cosine_x10000, m.margin AS margin_x1e6
             |FROM m JOIN bx ON bx.x = m.x AND bx.y = m.y
             |JOIN by_ ON by_.x = m.x AND by_.y = m.y
             |CROSS JOIN dimchk""".stripMargin),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.bitextMine(
          emb.filter(col("label") <= 4), emb.filter(col("label") >= 5),
          "vec_id", "embedding", k = 4, tables = 16, bits = 6)
      }),

    // ---- INCREMENTAL fuzzy syndication strip
    //      (DomainStats.fuzzySyndicationIndex +
    //      fuzzySyndicationStripIncremental): completes the exact/fuzzy
    //      incremental symmetry (exact templates q315, exact syndication
    //      q327) — a new ingest batch is stripped of NEAR-DUP syndicated
    //      paragraphs against the corpus's signature index alone, corpus
    //      text never re-read, corpus never re-clustered. The rule is
    //      radius-1 (the batch's-eye view): matched index variants pool
    //      their corpus domains; >= 3 distinct domains counting the
    //      batch's own, >= 2 variants counting the batch paragraph, and
    //      keep-origin by the matched neighborhood's globally-first
    //      occurrence. Deliberately single-hop — which is also what
    //      makes the oracle NON-recursive (no CC closure): candidates,
    //      verify, neighborhood stats and the rebuild all replay in
    //      plain CTEs over the shared minhash chain (minhashCtesOf "i"/
    //      "b"). The q327 batch shape: 40 replayed docs + 20 one-token-
    //      extended (the extension edits each doc's FINAL chunk — the
    //      wire-copy-with-a-local-edit case the exact index passes over).
    GraftQuery("q330_fuzzy_synd_strip_incremental",
      Some((s"""WITH bdocs AS (
               |  SELECT doc_id + 100000000 AS doc_id, source, lang, text
               |  FROM documents WHERE doc_id < 40
               |  UNION ALL
               |  SELECT doc_id + 200000000, source, lang, text || ' zz9'
               |  FROM documents WHERE doc_id >= 40 AND doc_id < 60),
               |alld AS (SELECT doc_id, source, lang, text, 0 AS is_batch
               |    FROM documents
               |  UNION ALL SELECT doc_id, source, lang, text, 1 FROM bdocs),
               |u AS (SELECT doc_id, $urlBuildSql AS url FROM alld),
               |c0 AS ($urlCanonSql),
               |c AS ($urlAssembleSql),
               |""" + paraCteSqlOf(FuzzyOp.grain, from = "alld") + s""",
               |pd AS (SELECT p.doc_id, a.is_batch, p.para_idx, p.para,
               |    c.domain
               |  FROM paras p JOIN c USING (doc_id)
               |  JOIN alld a USING (doc_id)),
               |cdp AS (SELECT md5(para) AS ph, min(para) AS para
               |  FROM pd WHERE is_batch = 0 GROUP BY 1),
               |bdp AS (SELECT md5(para) AS ph, min(para) AS para
               |  FROM pd WHERE is_batch = 1 GROUP BY 1),
               |$minhashCoefCteSql,
               |""" + minhashCtesOf("i", "cdp") + ",\n" +
               minhashCtesOf("b", "bdp") + s""",
               |cnd AS (SELECT DISTINCT b.ph AS bph, i.ph AS iph
               |  FROM bbk b JOIN ibk i
               |    ON b.band = i.band AND b.key = i.key),
               |mt AS (SELECT bph, iph FROM cnd
               |  JOIN bsl sb ON sb.ph = cnd.bph
               |  JOIN isl si ON si.ph = cnd.iph
               |  WHERE ${FuzzyOp.jacDen} * len(list_intersect(sb.l, si.l)) >=
               |    ${FuzzyOp.jacNum} * len(list_distinct(list_concat(sb.l, si.l)))),
               |iatt AS (SELECT md5(para) AS iph, domain, doc_id, para_idx,
               |    first_value(domain) OVER w AS fd,
               |    first_value(doc_id) OVER w AS fdoc,
               |    first_value(para_idx) OVER w AS fidx
               |  FROM pd WHERE is_batch = 0
               |  WINDOW w AS (PARTITION BY md5(para)
               |    ORDER BY doc_id, para_idx)),
               |ist AS (SELECT iph, max(fd) AS fdom, max(fdoc) AS fdoc,
               |    max(fidx) AS fidx
               |  FROM iatt GROUP BY 1),
               |idom AS (SELECT DISTINCT md5(para) AS iph, domain
               |  FROM pd WHERE is_batch = 0),
               |nv AS (SELECT bph,
               |    count(DISTINCT CASE WHEN iph <> bph THEN iph END) + 1 AS nvar
               |  FROM mt GROUP BY 1),
               |org AS (SELECT DISTINCT bph, first_value(fdom) OVER (
               |    PARTITION BY bph ORDER BY fdoc, fidx, fdom) AS odom
               |  FROM (SELECT DISTINCT m.bph, ist.fdom, ist.fdoc, ist.fidx
               |        FROM mt m JOIN ist ON ist.iph = m.iph)),
               |pool AS (SELECT DISTINCT m.bph, d.domain
               |  FROM mt m JOIN idom d ON d.iph = m.iph),
               |bocc AS (SELECT doc_id, para_idx, para, domain,
               |    md5(para) AS ph
               |  FROM pd WHERE is_batch = 1),
               |rch AS (SELECT o.doc_id, o.para_idx,
               |    count(DISTINCT CASE WHEN p.domain <> o.domain
               |      THEN p.domain END) + 1 AS reach
               |  FROM bocc o JOIN pool p ON p.bph = o.ph
               |  GROUP BY o.doc_id, o.para_idx, o.domain),
               |drp AS (SELECT o.doc_id, o.para_idx FROM bocc o
               |  JOIN nv ON nv.bph = o.ph
               |  JOIN org ON org.bph = o.ph
               |  JOIN rch r ON r.doc_id = o.doc_id
               |    AND r.para_idx = o.para_idx
               |  WHERE nv.nvar >= 2 AND r.reach >= 3 AND o.domain <> org.odom)
               |SELECT b.doc_id,
               |  coalesce(string_agg(CASE WHEN d.para_idx IS NULL
               |    THEN b.para END, ' ' ORDER BY b.para_idx), '') AS clean_text,
               |  count(*)::BIGINT AS n_paras,
               |  sum(CASE WHEN d.para_idx IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
               |    AS n_dropped
               |FROM bocc b LEFT JOIN drp d
               |  ON d.doc_id = b.doc_id AND d.para_idx = b.para_idx
               |GROUP BY 1""").stripMargin),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val index = DomainStats.fuzzySyndicationIndex(
          docs.withColumn("url", syntheticUrl), "url", "doc_id", "text",
          grain = FuzzyOp.grain, shingleK = FuzzyOp.shingleK,
          numHashes = FuzzyOp.numHashes, bands = FuzzyOp.bands)
        val batch = docs.filter(col("doc_id") < 40)
          .select((col("doc_id") + 100000000L).as("doc_id"), col("source"),
            col("lang"), col("text"))
          .unionAll(docs.filter(col("doc_id") >= 40 && col("doc_id") < 60)
            .select((col("doc_id") + 200000000L).as("doc_id"), col("source"),
              col("lang"), concat(col("text"), lit(" zz9")).as("text")))
          .withColumn("url", syntheticUrl)
        DomainStats.fuzzySyndicationStripIncremental(
          index, batch, "url", "doc_id", "text", minDomains = 3,
          grain = FuzzyOp.grain, shingleK = FuzzyOp.shingleK,
          numHashes = FuzzyOp.numHashes, bands = FuzzyOp.bands,
          jacNum = FuzzyOp.jacNum, jacDen = FuzzyOp.jacDen)
      })
  )

  /** The q240 oracle: the same integer PageRank as ten unrolled
    * join+group CTE pairs — `//` everywhere Spark uses `div`, the same
    * 17/20 damping and (3*scale)/(20*N) teleport integer arithmetic. */
  private def pageRankOracle(iters: Int): String = {
    val head =
      """WITH t AS (SELECT string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |e AS (SELECT toks[i.i] AS x, toks[i.i + 1] AS y, count(*)::BIGINT AS w
        |  FROM t CROSS JOIN LATERAL
        |    (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) i
        |  WHERE len(toks) >= 2 GROUP BY 1, 2),
        |nodes AS (SELECT x AS node FROM e UNION SELECT y FROM e),
        |ow AS (SELECT x AS node, sum(w) AS ow FROM e GROUP BY 1),
        |p AS (SELECT count(*)::BIGINT AS cnt FROM nodes),
        |r0 AS (SELECT node, (SELECT 1000000 // cnt FROM p) AS r FROM nodes)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""c$i AS (SELECT e.y AS node,
         |  sum((17 * pr.r * e.w) // (20 * o.ow)) AS s
         |  FROM e JOIN r${i - 1} pr ON pr.node = e.x
         |  JOIN ow o ON o.node = e.x GROUP BY 1),
         |r$i AS (SELECT n.node,
         |  (SELECT (3 * 1000000) // (20 * cnt) FROM p) + coalesce(c.s, 0) AS r
         |  FROM nodes n LEFT JOIN c$i c USING (node))""".stripMargin
    }.mkString(",\n")
    s"$head,\n$steps\nSELECT node, r::BIGINT AS rank_micro FROM r$iters"
  }
}
