package graft

import graft.pipeline._
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = Tables.t(spark, dir, "documents").cache()
  private lazy val embs = Tables.t(spark, dir, "embeddings").cache()

  test("langid identifies real multilingual prose (fixture lang labels are random)") {
    import spark.implicits._
    val samples = Seq(
      ("en", "the cat sat on the mat and it was happy with this state of the world"),
      ("en", "this is a test of the language detector that we built for the pipeline"),
      ("es", "el gato se sentó en la alfombra y estaba feliz con el estado del mundo"),
      ("es", "esta es una prueba del detector de idioma que construimos para los datos"),
      ("fr", "le chat est assis sur le tapis et il est heureux dans ce monde avec les autres"),
      ("fr", "ceci est un test du détecteur de langue que nous avons construit pour les données"),
      ("de", "die katze sass auf der matte und sie war glücklich mit dem zustand der welt"),
      ("de", "das ist ein test des spracherkenners den wir für die daten gebaut haben"),
      ("zh", "这是一个测试我们为数据管道构建的语言检测器的句子它应该被识别为中文"),
      ("zh", "猫坐在垫子上它对这个世界的状态感到满意这是另一个中文句子")
    ).toDF("lang", "text")
    val scored = samples.select(col("lang"), TextAnalysis.langId(col("text")).as("pred"))
    val hits = scored.filter(col("lang") === col("pred")).count()
    assert(hits >= 9, s"langid got $hits/10 on real prose")
  }

  test("exact dedup keeps one id per distinct text and counts copies") {
    val base = docs.select(col("doc_id"), col("text"))
    val dup = base.unionAll(base.filter(col("doc_id") < 10)
      .withColumn("doc_id", col("doc_id") + 100000))
    val out = Dedup.exactKeepFirst(dup, "doc_id", "text")
    assert(out.count() == 500)
    assert(out.filter(col("n_copies") === 2).count() == 10)
    // keeper is the minimum id
    assert(out.agg(max("doc_id")).head().getLong(0) < 100000)
  }

  test("decontamination flags n-gram overlap with a benchmark set; clean() is the complement") {
    import spark.implicits._
    import graft.pipeline.Decontaminate
    val bench = Seq(
      (1L, "What is the capital of France Paris is the answer to this question"),
      (2L, "Compute the derivative of x squared with respect to x please"))
      .toDF("bid", "btext")
    val corpus = Seq(
      // verbatim 8-gram from bench doc 1, different casing
      (10L, "prefix words here WHAT IS THE CAPITAL OF FRANCE PARIS IS and a suffix"),
      // clean document
      (11L, "completely unrelated text about cooking pasta with tomato sauce tonight"),
      // short benchmark prompt contained verbatim is NOT flagged unless
      // the corpus doc contains the same full short text (whole-text gram)
      (12L, "compute the derivative of x squared with respect to x please"))
      .toDF("doc_id", "text")
    val flagged = Decontaminate.contaminated(corpus, "doc_id", "text", bench, "btext", n = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flagged.contains(10L) && flagged.contains(12L) && !flagged.contains(11L), flagged)
    // doc 10 shares exactly one 8-gram ("what is the capital of france paris is")
    assert(flagged(10L) == 1L, flagged)
    val clean = Decontaminate.clean(corpus, "doc_id", "text", bench, "btext", n = 8)
      .collect().map(_.getLong(0)).toSeq
    assert(clean == Seq(11L))
    // scale shape: the benchmark side broadcasts, the corpus side never
    // exchanges (no shuffle on the probe path before the per-doc agg)
    val plan = Decontaminate.contaminated(
      corpus, "doc_id", "text", bench, "btext", n = 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop") ||
      plan.contains("broadcast"), plan)
  }

  test("near-dup decontamination: verbatim + small-edit leak flagged, unrelated not") {
    import graft.pipeline.Decontaminate
    import spark.implicits._
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val smallEdit = ((1 to 40).map(i => if (i == 20) "CHANGED" else s"tok$i")).mkString(" ")
    val corpus = Seq(
      (10L, base),                 // verbatim copy of bench item 1
      (11L, smallEdit),            // paraphrase-level: one token changed
      (12L, (1 to 40).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text")
    val bench = Seq((1L, base)).toDF("bench_id", "btext")
    val out = Decontaminate.nearDupContaminated(
        corpus, "doc_id", "text", bench, "bench_id", "btext")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out.keySet == Set(10L, 11L), out.toString)
    assert(out(10L) == 1.0, out.toString)
    // one changed token kills the 3 shingles through position 20:
    // 35 shared / 41 union = 0.8537
    assert(out(11L) > 0.8 && out(11L) < 1.0, out.toString)

    // scale shape: the bench side broadcasts in BOTH the candidate and
    // the verify joins; corpus text never shuffles
    val plan = Decontaminate.nearDupContaminated(
        corpus, "doc_id", "text", bench, "bench_id", "btext")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)

    // empty benchmark: no rows, no failure
    assert(Decontaminate.nearDupContaminated(
      corpus, "doc_id", "text", bench.filter(lit(false)), "bench_id", "btext")
      .collect().isEmpty)
  }

  test("bloom decontamination: bit-identical to exact, prefilter in the plan") {
    import graft.pipeline.Decontaminate
    val docs = Tables.t(spark, dir, "documents")
    val corpus = docs.filter(col("doc_id") % 7 =!= 0)
    val bench = docs.filter(col("doc_id") % 7 === 0)
    val exact = Decontaminate.contaminated(
      corpus, "doc_id", "text", bench, "text", n = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaBloom = Decontaminate.bloomContaminated(
      corpus, "doc_id", "text", bench, "text", n = 8)
    assert(viaBloom.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == exact,
      "bloom path must be false-positive-free after the verify join")
    val plan = viaBloom.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      s"bloom prefilter missing from the plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"exact verify must stay a broadcast semi-join:\n$plan")
    // empty benchmark: no rows, no NPE
    assert(Decontaminate.bloomContaminated(
      corpus, "doc_id", "text", bench.filter(lit(false)), "text", n = 8)
      .collect().isEmpty)
  }

  test("minhash LSH recovers nearly all exact 3-gram near-dup pairs (recall)") {
    // unblocked exact baseline (500 docs → cross join is fine in-test)
    val sh = docs.select(col("doc_id"),
      array_distinct(TextAnalysis.shingles(col("text"), 3)).as("sh"))
    val exact = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .withColumn("j",
        size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
        size(array_union(col("a.sh"), col("b.sh"))))
      .filter(col("j") >= 0.8)
      .select(col("a.doc_id"), col("b.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
        shingleK = 3, numHashes = 64, bands = 16, threshold = 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain 3-gram near-dups")
    // banding recall at j=0.8 with b=16,r=4 is ~0.9998 per pair
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall < 0.9 (|exact|=${exact.size}, |lsh|=${lsh.size})")
    // verification step guarantees precision: every returned pair is >= threshold
    assert((lsh -- exact).isEmpty, "verified LSH pairs must be true near-dups")
  }

  test("simhash: near-identical docs land within small hamming distance") {
    import spark.implicits._
    val base = docs.limit(20).select(col("doc_id"), col("text"))
    // perturb: append one token — fingerprint should move only a few bits
    val perturbed = base.withColumn("doc_id", col("doc_id") + 1000)
      .withColumn("text", concat(col("text"), lit(" extra")))
    val pairs = Dedup.simhashNearDupPairs(
      base.unionAll(perturbed), "doc_id", "text", bands = 4, maxHamming = 6)
    val found = pairs.filter(col("id_b") === col("id_a") + 1000).count()
    assert(found >= 16, s"only $found/20 perturbed twins found within hamming 6")
  }

  test("brute-force cosine top-k: self is rank 1, monotone scores, k rows") {
    val q = embs.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0).toArray
    val top = Similarity.bruteForceTopK(embs, "vec_id", "embedding", q, 10).collect()
    assert(top.length == 10)
    assert(top.head.getLong(0) == 0L && math.abs(top.head.getDouble(1) - 1.0) < 1e-6)
    val scores = top.map(_.getDouble(1))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("LSH ANN: finds self, subset of corpus, reasonable recall vs brute force") {
    val q = embs.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0).toArray
    val exact = Similarity.bruteForceTopK(embs, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    val approx = Similarity.lshTopK(embs, "vec_id", "embedding", q, 10,
      tables = 16, bits = 6).collect().map(_.getLong(0)).toSet
    assert(approx.contains(0L), "query vector must find itself")
    val recall = (exact & approx).size.toDouble / exact.size
    // embeddings are near-orthogonal (max cosine ~0.37 ⇒ θ≈72°): per-table
    // bucket-collision is ~0.6^6, union over 16 tables ≈ 0.5 — so ~0.3 is
    // the honest bar for this data; denser real embeddings do far better
    assert(recall >= 0.3, s"LSH recall@10 $recall < 0.3")
  }

  test("PCA whitening: unit variances, decorrelated axes, deterministic") {
    val k = 8
    val out = Whitening.pcaWhiten(embs, "vec_id", "embedding", k)
      .collect().map(_.getSeq[Double](1).toArray)
    assert(out.forall(_.length == k))
    val n = out.length
    // sample covariance of the whitened output ≈ I_k (population-vs-sample
    // scaling: MLlib covariance is the unbiased n−1 form, so whitened
    // variances land on 1 exactly up to float noise)
    val meanW = (0 until k).map(j => out.map(_(j)).sum / n)
    var maxDiag = 0.0; var maxOff = 0.0
    for (a <- 0 until k; b <- a until k) {
      val c = out.map(v => (v(a) - meanW(a)) * (v(b) - meanW(b))).sum / (n - 1)
      if (a == b) maxDiag = math.max(maxDiag, math.abs(c - 1.0))
      else maxOff = math.max(maxOff, math.abs(c))
    }
    assert(maxDiag < 1e-6, s"whitened variance off unit by $maxDiag")
    assert(maxOff < 1e-6, s"whitened axes correlated by $maxOff")
    // deterministic: second fit produces identical projections
    val again = Whitening.pcaWhiten(embs, "vec_id", "embedding", k)
      .collect().map(_.getSeq[Double](1).toArray)
    assert(out.zip(again).forall { case (x, y) => x.sameElements(y) })
  }

  test("PQ ANN: full-refine rerank equals brute force; deterministic; recall") {
    val q = embs.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0).toArray
    val exact = Similarity.bruteForceTopK(embs, "vec_id", "embedding", q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // refine large enough that the ADC candidate list covers the whole
    // corpus (500 rows) → the exact rerank IS brute force, bit for bit
    val full = Pq.pqTopKRerank(embs, "vec_id", "embedding", q, 10,
      refine = 50, m = 8, ksub = 16)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full == exact, s"full-refine PQ must equal brute force: $full vs $exact")
    // training is deterministic: same seed → identical codebooks
    val b1 = Pq.train(embs, "vec_id", "embedding", m = 8, ksub = 16)
    val b2 = Pq.train(embs, "vec_id", "embedding", m = 8, ksub = 16)
    assert(b1.length == b2.length &&
      b1.zip(b2).forall { case (x, y) => x.sameElements(y) })
    // deployment shape (small refine): self found, honest recall floor for
    // near-orthogonal vectors (same bar as the LSH/IVF tests above)
    val approx = Pq.pqTopKRerank(embs, "vec_id", "embedding", q, 10,
      refine = 5, m = 8, ksub = 32).collect().map(_.getLong(0)).toSeq
    assert(approx.contains(0L), "query vector must find itself")
    val recall = (exact.map(_._1).toSet & approx.toSet).size.toDouble / exact.size
    assert(recall >= 0.3, s"PQ recall@10 $recall < 0.3")
  }

  test("PQ encode: m int codes per vector, codes within [0, ksub)") {
    val books = Pq.train(embs, "vec_id", "embedding", m = 8, ksub = 16)
    val codes = embs
      .select(Pq.encodeColumn(col("embedding"), books, m = 8, ksub = 16).as("c"))
      .collect().map(_.getSeq[Int](0))
    assert(codes.forall(c => c.length == 8 && c.forall(x => x >= 0 && x < 16)))
    // quantizer does real work: many distinct code words in use
    assert(codes.flatten.distinct.size > 8)
  }

  test("IVF ANN: self-retrieval, equals brute force when probing all lists, recall") {
    val q = embs.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0).toArray
    val exact = Similarity.bruteForceTopK(embs, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSeq
    // probing every list == brute force, bit for bit (ordering ties broken
    // by id on both paths)
    val all = Ivf.ivfTopK(embs, "vec_id", "embedding", q, 10,
      nlist = 8, nprobe = 8).collect().map(_.getLong(0)).toSeq
    assert(all == exact, s"nprobe=nlist must equal brute force: $all vs $exact")
    // partial probing: the query's own bucket is always probed first, so
    // self-retrieval is guaranteed; recall floor is generous because these
    // embeddings are near-orthogonal (hard case for any ANN)
    val approx = Ivf.ivfTopK(embs, "vec_id", "embedding", q, 10,
      nlist = 16, nprobe = 4).collect().map(_.getLong(0)).toSeq
    assert(approx.contains(0L), "query vector must find itself")
    val recall = (exact.toSet & approx.toSet).size.toDouble / exact.size
    assert(recall >= 0.3, s"IVF recall@10 $recall < 0.3")
  }

  test("IVF probe sweep: recall and scan cost rise with nprobe; full probe is exact") {
    val q = embs.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0).toArray
    val sweep = Ivf.probeSweep(embs, "vec_id", "embedding", q,
        k = 10, nlist = 8, nprobes = Seq(1, 2, 4, 8))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(sweep.map(_._1).toSeq == Seq(1, 2, 4, 8))
    // scanned rows strictly accumulate with probe width; full probe = corpus
    assert(sweep.map(_._3).toSeq == sweep.map(_._3).toSeq.sorted)
    assert(sweep.last._4 == 10000L, s"full probe must scan everything: ${sweep.last}")
    // full probe == brute force → perfect recall
    assert(sweep.last._2 == 10000L, s"full probe must be exact: ${sweep.last}")
    // recall never decreases as more lists are probed (nested probe sets)
    assert(sweep.map(_._2).toSeq == sweep.map(_._2).toSeq.sorted,
      s"recall must be monotone: $sweep")
  }

  test("LSH tuning sweep: recall monotone along the doubling chain, ceiling at 1-row bands") {
    val docs = Tables.t(spark, dir, "documents")
    val sweep = Dedup.lshTuningSweep(docs, "doc_id", "text",
        shingleK = 3, numHashes = 64, bandsChoices = Seq(4, 8, 16, 32),
        threshold = 0.8, samplePct = 40)
      .orderBy("bands")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(4)))
    assert(sweep.map(_._1).toSeq == Seq(4, 8, 16, 32, 64))
    assert(sweep.map(_._2).toSeq == Seq(16, 8, 4, 2, 1))
    // candidate sets nest along 4|8|16|32|64 → found counts non-decreasing
    assert(sweep.map(_._3).toSeq == sweep.map(_._3).toSeq.sorted, sweep.mkString(","))
    assert(sweep.last._4 == 10000L)
    // every config's recall_bp is ≤ the ceiling
    assert(sweep.forall(_._4 <= 10000L))
  }

  test("embedding near-dup: LSH finds perturbed twins; exact pairs match a local recompute") {
    import spark.implicits._
    val base = embs.limit(20).select(col("vec_id"), col("embedding"))
    // tiny deterministic perturbation: cosine(original, twin) ≈ 1
    val twins = base.withColumn("vec_id", col("vec_id") + 10000)
      .withColumn("embedding",
        transform(col("embedding"), x => x.cast("double") * 1.001))
    val pairs = Similarity.cosineNearDupPairs(
      base.select(col("vec_id"), col("embedding").cast("array<double>"))
        .unionAll(twins.select(col("vec_id"), col("embedding").cast("array<double>"))),
      "vec_id", "embedding", threshold = 0.99, tables = 16, bits = 4)
    val found = pairs.filter(col("id_b") === col("id_a") + 10000).count()
    assert(found >= 16, s"only $found/20 perturbed twins found")
    // exact path agrees with a driver-side recompute on a small slice
    val slice = embs.limit(50)
    val got = Similarity.exactCosinePairs(slice, "vec_id", "embedding", 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val local = slice.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val expect = (for {
      (ia, va) <- local; (ib, vb) <- local if ia < ib
      dot = va.zip(vb).map { case (x, y) => x * y }.sum
      cos = dot / (math.sqrt(va.map(x => x * x).sum) * math.sqrt(vb.map(x => x * x).sum))
      if BigDecimal(cos).setScale(4, BigDecimal.RoundingMode.HALF_UP) >= 0.25
    } yield (ia, ib)).toSet
    assert(got == expect, s"exact pairs mismatch: ${(got diff expect) ++ (expect diff got)}")
  }

  test("multimodal: stub decode produces deterministic features with real plumbing") {
    val media = Multimodal.fromDocuments(spark, docs)
    val feats = Multimodal.extractFeatures(media).cache()
    assert(feats.count() == 500)
    val r = feats.filter(col("media_id") === 0).head()
    assert(r.kind == "image")
    assert(r.n_bytes > 0)
    assert(r.features.length == 8)
    // determinism: same input → same checksum/features
    val again = Multimodal.extractFeatures(media)
      .filter(col("media_id") === 0).head()
    assert(again.checksum == r.checksum)
    // chunk sampler: n chunks per row, offsets in range
    val chunks = Multimodal.sampleChunks(media.limit(5), n = 4, chunkBytes = 16)
    assert(chunks.count() == 20)
    assert(chunks.agg(max("chunk_idx")).head().getInt(0) == 3)
    // resize: metadata updated, byte budget scales with target area,
    // never upsamples past the original, deterministic
    val small = Multimodal.resize(media.limit(5), 64, 64).collect()
    small.foreach { r =>
      assert(r.width == 64 && r.height == 64)
      assert(r.media.length >= 1)
    }
    val orig = media.limit(5).collect().map(r => r.media_id -> r.media.length).toMap
    small.foreach(r => assert(r.media.length <= math.max(orig(r.media_id), 1)))
    val small2 = Multimodal.resize(media.limit(5), 64, 64).collect()
      .map(r => r.media_id -> r.media.toSeq).toMap
    small.foreach(r => assert(small2(r.media_id) == r.media.toSeq))
  }

  test("thetasketch_distinct within 1% of exact (reference HLL err 0.01)") {
    val ev = Tables.t(spark, "/root/testdata/sf0.01", "events")
    val approx = ev.agg(approx_count_distinct("user_id", 0.01)).head().getLong(0)
    val exact = ev.agg(countDistinct("user_id")).head().getLong(0)
    assert(math.abs(approx - exact).toDouble / exact <= 0.02,
      s"approx $approx vs exact $exact")
  }

  test("repetition stats: known-answer doc, clean doc near zero, caps at 1") {
    import spark.implicits._
    // "a b a b a b": 2-grams = [a b, b a, a b, b a, a b] →
    //   counts: "a b"×3 (3 chars), "b a"×2 → top = 3*3 = 9, dup = 9 + 6 = 15
    // doc chars = 11 → top_frac 9/11, dup_frac capped at 1.0
    val df = Seq("a b a b a b", "w x y z q r s t").toDF("text")
    val rep = TextAnalysis.repetitionStats(col("text"), 2)
    val rows = df.select(
      rep.getField("top_chars").as("top"),
      rep.getField("dup_chars").as("dup")).collect()
    assert(rows(0).getLong(0) == 9 && rows(0).getLong(1) == 15)
    // all 2-grams distinct → dup mass 0, top mass = one gram's chars
    assert(rows(1).getLong(0) == 3 && rows(1).getLong(1) == 0)
    // single-token doc falls back to the whole text as one gram
    val one = Seq("solo").toDF("text")
      .select(TextAnalysis.repetitionStats(col("text"), 2).getField("top_chars"))
      .head().getLong(0)
    assert(one == 4)
  }

  test("sample bucket: deterministic, in range, content-keyed") {
    val b = TextAnalysis.sampleBucket(col("text"), 100)
    val twice = docs.select(b.as("b1")).unionAll(docs.select(b.as("b1")))
    val range = twice.agg(min("b1"), max("b1")).head()
    assert(range.getLong(0) >= 0 && range.getLong(1) < 100)
    // same text → same bucket: distinct (text, bucket) == distinct text
    val stable = docs.select(col("text"), b.as("bk")).distinct().count()
    assert(stable == docs.select("text").distinct().count())
    // buckets spread: a 500-doc corpus should hit most of 100 buckets
    assert(docs.select(b).distinct().count() > 60)
  }

  test("pii redaction: emails/ips/phones replaced, counts match, clean text untouched") {
    import spark.implicits._
    val df = Seq(
      "write to alice.smith+x@example.co.uk or bob@test.org today",
      "server at 192.168.0.1 and 10.0.255.7 responded",
      "call 555-0123 about invoice 12-34",
      "no pii here at all").toDF("text")
    val out = df.select(
      Pii.redact(col("text")).as("r"),
      Pii.emailCount(col("text")).as("ne"),
      Pii.ipv4Count(col("text")).as("ni"),
      Pii.phoneCount(col("text")).as("np")).collect()
    assert(out(0).getString(0) == "write to <EMAIL> or <EMAIL> today")
    assert(out(0).getInt(1) == 2)
    assert(out(1).getString(0) == "server at <IP> and <IP> responded")
    assert(out(1).getInt(2) == 2)
    assert(out(2).getString(0) == "call <PHONE> about invoice 12-34")
    assert(out(2).getInt(3) == 1)
    assert(out(3).getString(0) == "no pii here at all")
    assert(out(3).getInt(1) + out(3).getInt(2) + out(3).getInt(3) == 0)
  }

  test("kmeans clustering: deterministic, assigns every vector, coherent clusters") {
    val cents = Ivf.train(embs, "vec_id", "embedding", nlist = 8, iters = 3)
    val assigned = embs.withColumn("c", Ivf.assignColumn(col("embedding"), cents))
    assert(assigned.filter(col("c").isNull).count() == 0)
    assert(assigned.select("c").distinct().count() > 1)
    // determinism: training twice yields identical centroids
    val cents2 = Ivf.train(embs, "vec_id", "embedding", nlist = 8, iters = 3)
    assert(cents.zip(cents2).forall { case (a, b) => a.sameElements(b) })
    // coherence: mean cosine-to-own-centroid beats mean cosine to the
    // global mean direction (clusters actually separate the space)
    val mean = cents.transpose.map(_.sum / cents.length)
    val norm = math.sqrt(mean.map(x => x * x).sum)
    val global = mean.map(_ / norm)
    val ownAvg = cents.indices.map { c =>
      val cl = assigned.filter(col("c") === c)
      val n = cl.count()
      if (n == 0) (0.0, 0L)
      else (cl.select(avg(Similarity.cosineToQuery(col("embedding"), cents(c))))
        .head().getDouble(0) * n, n)
    }
    val own = ownAvg.map(_._1).sum / ownAvg.map(_._2).sum
    val glob = assigned
      .select(avg(Similarity.cosineToQuery(col("embedding"), global)))
      .head().getDouble(0)
    assert(own > glob,
      s"own-centroid cosine $own should beat global-centroid $glob")
  }

  test("connected components: long chain converges under deferred pointer doubling") {
    import spark.implicits._
    // A 4096-node path graph spread over many partitions: partition-local
    // contraction collapses runs, but the cross-partition diameter still
    // needs the loop — with doubling deferred to round 3 (the r11 change)
    // the budget must cover 2 plain rounds + log2(d) doubled rounds. The
    // shuffled edge order makes contraction runs short, so the loop does
    // real pointer jumping here.
    val n = 4096L
    val chain = (1L until n).map(i => (i, i + 1L))
    val pairs = spark.sparkContext.parallelize(
        new scala.util.Random(42L).shuffle(chain), 32)
      .toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(cc.length == n)
    assert(cc.forall(_._2 == 1L),
      s"chain did not converge to min label: ${cc.filter(_._2 != 1L).take(5).mkString(",")}")
  }

  test("connected components: chains, cliques, singleton handling, dedup") {
    import spark.implicits._
    // chain 1-2-3-4-5 (diameter 4: needs real multi-round propagation),
    // clique {10,11,12}, isolated pair {20,21}
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (10L, 12L), (11L, 12L),
      (20L, 21L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).forall(cc(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(cc(_) == 10L))
    assert(Seq(20L, 21L).forall(cc(_) == 20L))
    assert(cc.size == 10)

    // incremental CC: a new doc (100) bridges old clusters {1,2} and
    // {5,6} → all five relabel to 1; untouched {10,11} passes through
    // (and equals a full recompute over old ∪ new pairs)
    val oldPairs = Seq((1L, 2L), (5L, 6L), (10L, 11L)).toDF("id_a", "id_b")
    val newPairs = Seq((2L, 100L), (100L, 5L)).toDF("id_a", "id_b")
    val assign = Dedup.connectedComponents(oldPairs)
    val inc = Dedup.updateClusters(assign, newPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Dedup.connectedComponents(oldPairs.union(newPairs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc == full, s"incremental $inc != full recompute $full")
    assert(Seq(1L, 2L, 5L, 6L, 100L).forall(inc(_) == 1L), inc.toString)
    assert(inc(10L) == 10L && inc(11L) == 10L && inc.size == 7)

    // dedupByClusters keeps exactly the min id per cluster + singletons
    val docs = (1L to 25L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val kept = Dedup.dedupByClusters(docs, "doc_id", pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val survivors = Set(1L, 10L, 20L) ++ (6L to 9L) ++ (13L to 19L) ++ (22L to 25L)
    assert(kept == survivors)

    // keep-best: the argmax-quality member survives per cluster (quality
    // = doc_id % 7: cluster {1..5} keeps 5 (q=5), {10,11,12} keeps 12
    // (q=5), {20,21} keeps 20 (q=6)); singletons all survive
    val scored = docs.withColumn("q", col("doc_id") % 7)
    val best = Dedup.dedupByClustersKeepBest(scored, "doc_id", pairs, col("q"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val bestSurvivors = Set(5L, 12L, 20L) ++ (6L to 9L) ++ (13L to 19L) ++ (22L to 25L)
    assert(best == bestSurvivors, best.toString)
    // equal quality everywhere → degrades to min-id (tiebreak = id asc)
    val flat = Dedup.dedupByClustersKeepBest(docs, "doc_id", pairs, lit(1))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(flat == survivors)
  }

  test("bm25: hand-computed score, tf monotonicity, absent terms score zero") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "spark spark join"),   // tf(spark)=2, dl=3
      (2L, "spark filter scan"),  // tf(spark)=1, dl=3
      (3L, "merge sort scan")     // tf(spark)=0
    ).toDF("doc_id", "text")
    val out = Relevance.bm25(corpus, "doc_id", "text", Seq("spark"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // N=3, df=2, avgdl=3 → idf = ln((3-2+0.5)/(2+0.5)+1) = ln(1.6);
    // dl=avgdl ⇒ denominator = tf + k1; score = idf·tf·2.2/(tf+1.2)
    val idf = math.log(1.6)
    assert(math.abs(out(1L) - idf * 2 * 2.2 / (2 + 1.2)) < 1e-12)
    assert(math.abs(out(2L) - idf * 1 * 2.2 / (1 + 1.2)) < 1e-12)
    assert(out(3L) == 0.0)
    assert(out(1L) > out(2L))
    // multi-term: scores add per term, and the rarer term carries the
    // higher idf — doc3's unique 'merge' (df=1) outranks doc1's common
    // 'spark' (df=2)
    val two = Relevance.bm25(corpus, "doc_id", "text", Seq("spark", "merge"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(two(1L) - out(1L)) < 1e-12) // merge absent from doc1
    val idfMerge = math.log((3 - 1 + 0.5) / (1 + 0.5) + 1)
    assert(math.abs(two(3L) - idfMerge * 1 * 2.2 / (1 + 1.2)) < 1e-12)
    assert(two(3L) > two(1L))
  }

  test("bigram LM: hand-computed smoothed probabilities on a tiny corpus") {
    import spark.implicits._
    // corpus: "a b a b" + "a b c" + "x". bigrams: (a,b)x3, (b,a)x1,
    // (b,c)x1. vocab V=4 (a,b,c,x). C(a·)=3, C(b·)=2.
    val corpus = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "x")).toDF("doc_id", "text")
    val out = LanguageModel.bigramLogProb(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val pAB = math.log((3.0 + 1) / (3.0 + 4)) // P(b|a) = 4/7
    val pBA = math.log((1.0 + 1) / (2.0 + 4)) // P(a|b) = 2/6
    val pBC = math.log((1.0 + 1) / (2.0 + 4)) // P(c|b) = 2/6
    assert(math.abs(out(1L) - (pAB + pBA + pAB) / 3) < 1e-12)
    assert(math.abs(out(2L) - (pAB + pBC) / 2) < 1e-12)
    // a 1-token doc has no bigrams and no row
    assert(!out.contains(3L))
    // the predictable doc scores higher than the one with a rare tail
    assert(out(1L) > out(2L))
  }

  test("budget selection: greedy-by-score prefix, budget respected, equals naive") {
    import spark.implicits._
    val df = docs.withColumn("score",
      round(size(array_distinct(TextAnalysis.tokens(col("text")))).cast("double") /
        TextAnalysis.tokenCount(col("text")), 4))
    val out = Packing.takeUntilBudget(df, "doc_id", "text", "score", 5000L)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
    // budget respected, inclusive running totals consistent
    assert(out.nonEmpty && out.forall(_._4 <= 5000L))
    val sorted = out.sortBy(r => (-r._2, r._1))
    assert(sorted.zip(sorted.scanLeft(0L)(_ + _._3).tail)
      .forall { case (r, cum) => r._4 == cum })
    // equals the naive single-window formulation
    val naive = df.select(col("doc_id"), col("score"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n"))
      .collect().sortBy(r => (-r.getDouble(1), r.getLong(0)))
    var cum = 0L
    val expect = naive.takeWhile { r => cum += r.getLong(2); cum <= 5000L }
      .map(_.getLong(0)).toSet
    assert(out.map(_._1).toSet == expect)
  }

  test("MLM masking: labels restore, rate ~15%, 80/10/10 action split") {
    import spark.implicits._
    val df = (1L to 80L).map(i =>
      (i, (1 to 25).map(j => s"w$j").mkString(" "))).toDF("id", "t")
    val out = df.select(col("id"),
      TextAnalysis.mlmMask(col("t"), col("id"), 15).as("mm"))
      .select(col("id"), col("mm.masked"), col("mm.labels"), col("mm.n_masked"))
      .collect()
    var totalSel = 0; var maskTok = 0
    out.foreach { r =>
      val toks = r.getString(1).split(" ")
      assert(toks.length == 25, "masking never changes token count")
      val labels = r.getString(2).split(" ").filter(_.nonEmpty)
        .map { kv => val Array(p, t) = kv.split("=", 2); (p.toInt, t) }
      assert(labels.length == r.getInt(3))
      totalSel += labels.length
      // splicing the labels back restores the original document
      val restored = toks.clone()
      labels.foreach { case (p, t) => restored(p) = t }
      assert(restored.toSeq == (1 to 25).map(j => s"w$j"))
      // positions NOT selected are untouched
      val sel = labels.map(_._1).toSet
      toks.zipWithIndex.foreach { case (t, p) =>
        if (!sel(p)) assert(t == s"w${p + 1}")
      }
      maskTok += toks.count(_ == "[MASK]")
    }
    val total = 80 * 25
    assert(totalSel > total * 0.10 && totalSel < total * 0.20,
      s"selected $totalSel of $total")
    // [MASK] share of selected ≈ 80% (random-replacement can collide with
    // the original token, so "keep" is slightly over 10%)
    assert(maskTok > totalSel * 0.7 && maskTok < totalSel * 0.9,
      s"[MASK] $maskTok of $totalSel selected")
  }

  test("FIM transform: PSM reassembles to the original document") {
    val out = docs.limit(50).select(col("doc_id"), col("text"),
      TextAnalysis.fimTransform(col("text"), col("doc_id")).as("psm"))
      .collect()
    val shape = """(?s)^<PRE>(.*)<SUF>(.*)<MID>(.*)$""".r
    out.foreach { r =>
      r.getString(2) match {
        case shape(pre, suf, mid) =>
          assert(pre + mid + suf == r.getString(1), s"doc ${r.getLong(0)}")
          assert(mid.nonEmpty, "middle span never empty (inclusive cuts)")
        case other => fail(s"bad PSM shape: ${other.take(60)}")
      }
    }
  }

  test("T5 span corruption: sentinel structure, determinism, round-trip") {
    import spark.implicits._
    val df = (1L to 50L).map(i =>
      (i, (1 to 30).map(j => s"tok$j").mkString(" "))).toDF("id", "t")
    val out = df.select(col("id"),
      TextAnalysis.spanCorrupt(col("t"), col("id"), 15).as("sc"))
      .select(col("id"), col("sc.input"), col("sc.target"), col("sc.n_spans"))
      .collect()
    val sentinel = """<extra_id_(\d+)>""".r
    out.foreach { r =>
      val (input, target, n) = (r.getString(1), r.getString(2), r.getInt(3))
      // input sentinels are 0..n-1 in order; target repeats them + terminator n
      val inIds = sentinel.findAllMatchIn(input).map(_.group(1).toInt).toSeq
      assert(inIds == (0 until n), s"input sentinels $inIds for n=$n")
      val tgtIds = sentinel.findAllMatchIn(target).map(_.group(1).toInt).toSeq
      assert(tgtIds == (0 to n).take(if (n == 0) 0 else n + 1))
      // round-trip: splicing target spans back into input restores the doc
      if (n > 0) {
        var restored = input
        val spans = ("""<extra_id_\d+>""".r.split(target).map(_.trim)).drop(1)
        spans.zipWithIndex.foreach { case (span, k) =>
          restored = restored.replace(s"<extra_id_$k>", span)
        }
        assert(restored.split("\\s+").toSeq ==
          (1 to 30).map(j => s"tok$j"), s"round-trip failed: $restored")
      }
    }
    // ~15% of tokens masked across the corpus (i.i.d. md5 rule)
    val total = 50 * 30
    val maskedTokens = out.map { r =>
      30 - r.getString(1).split("\\s+").count(!_.startsWith("<extra_id_")) }.sum
    assert(maskedTokens > total * 0.10 && maskedTokens < total * 0.20,
      s"masked $maskedTokens of $total")
    // deterministic
    val again = df.select(TextAnalysis.spanCorrupt(col("t"), col("id"), 15)
      .getField("input")).collect().map(_.getString(0))
    assert(out.map(_.getString(1)).sameElements(again))
  }

  test("text normalization: NFKC, casefold, accent strip, digit fold") {
    import spark.implicits._
    val df = Seq(
      (1L, "Café 2024"),        // precomposed é, digits
      (2L, "Café 2024"),       // decomposed e + combining acute
      (3L, "ﬁle STÜCK"),   // ﬁ ligature (NFKC → fi), Ü
      (4L, "① ½")          // ① (NFKC → 1), ½ (NFKC → 1⁄2)
    ).toDF("id", "t")
    val out = df.select(col("id"), TextAnalysis.normalizeText(col("t")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // composed and decomposed forms canonicalize identically
    assert(out(1L) == "cafe 0000" && out(2L) == "cafe 0000")
    assert(out(3L) == "file stuck")
    // NFKC expands enclosed/vulgar forms; digits then fold to 0
    assert(out(4L) == "0 0⁄0")
    // null passes through
    val nulls = Seq((5L, null: String)).toDF("id", "t")
      .select(TextAnalysis.normalizeText(col("t"))).head()
    assert(nulls.isNullAt(0))
  }

  test("char entropy: known answers, code-point counting, null/empty") {
    import spark.implicits._
    val df = Seq(
      (1L, "aaaa"),          // one symbol → 0 bits
      (2L, "ab"),            // two equal symbols → 1 bit
      (3L, "abcd"),          // four equal → 2 bits
      (4L, "😀😀🙂🙂"),      // supplementary plane: 2 symbols → 1 bit
      (5L, "")               // empty → null
    ).toDF("id", "t")
    val out = df.select(col("id"), TextAnalysis.charEntropy(col("t")).as("h"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out(1L).contains(0.0))
    assert(math.abs(out(2L).get - 1.0) < 1e-12)
    assert(math.abs(out(3L).get - 2.0) < 1e-12)
    assert(math.abs(out(4L).get - 1.0) < 1e-12)
    assert(out(5L).isEmpty)
    // prose scores well below random hex noise
    val prose = "the quick brown fox jumps over the lazy dog and keeps going"
    val hexy = "9f8a7b6c5d4e3f2a1b0c9d8e7f6a5b4c3d2e1f0a9b8c7d6e5f4a3b2c1d0e9f8a"
    val h2 = df.sparkSession.range(1)
      .select(TextAnalysis.charEntropy(lit(prose)).as("p"),
        TextAnalysis.charEntropy(lit(hexy)).as("x")).head()
    assert(h2.getDouble(0) > 3.0 && h2.getDouble(1) > h2.getDouble(0) * 0.9)
  }

  test("CCNet buckets: per-lang models are independent; thirds split; ordered") {
    import spark.implicits._
    // two "languages" with disjoint vocabularies: each trains its own
    // model, so scores in one are unaffected by the other's corpus
    val corpus = (1 to 9).map(i => (i.toLong, "en", "the cat sat " * (i % 3 + 1))) ++
      (11 to 19).map(i => (i.toLong, "de", s"die katze nr$i sass hier"))
    val df = corpus.toDF("doc_id", "lang", "text")
    val out = LanguageModel.perplexityBuckets(df, "doc_id", "text", "lang")
      .collect()
    val rows = out.map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id"),
      r.getAs[Double]("lm_logprob"), r.getAs[String]("ccnet_bucket")))
    assert(rows.length == 18)
    // every bucket value is one of the three
    assert(rows.forall(r => Set("head", "middle", "tail")(r._4)))
    // within each lang: no tail doc outscores a head doc
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val heads = rs.filter(_._4 == "head").map(_._3)
      val tails = rs.filter(_._4 == "tail").map(_._3)
      if (heads.nonEmpty && tails.nonEmpty)
        assert(tails.max <= heads.min)
    }
    // keyed scoring equals scoring each language's sub-corpus alone
    val enOnly = LanguageModel.bigramLogProb(
      df.filter(col("lang") === "en"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val keyed = LanguageModel.bigramLogProb(df, "doc_id", "text",
      keyCols = Seq("lang")).filter(col("lang") === "en")
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("lm_logprob")).toMap
    assert(enOnly.keySet == keyed.keySet)
    enOnly.foreach { case (id, s) => assert(math.abs(s - keyed(id)) < 1e-12) }
  }

  test("cross-doc repeated passages: shared 16-gram runs are counted per doc") {
    import spark.implicits._
    val passage = (1 to 20).map(i => s"w$i").mkString(" ") // 20 shared tokens
    val corpus = Seq(
      (1L, passage + " unique1 tail1"),
      (2L, "head2 " + passage),
      (3L, "entirely different words " + (1 to 20).map(i => s"x$i").mkString(" ")),
      (4L, "short doc")).toDF("doc_id", "text")
    val out = Decontaminate.crossDocRepeats(corpus, "doc_id", "text", n = 16)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // doc1: 22 tokens → 7 grams; grams fully inside the shared 20-token
    // passage ([w1..w16]..[w5..w20] = 5) also occur in doc2 → 5 repeated
    assert(out(1L) == ((7L, 5L, 5.0 / 7)))
    assert(out(2L) == ((6L, 5L, 5.0 / 6)))
    // no cross-doc grams for the distinct doc; short doc = 1 whole-text gram
    assert(out(3L)._2 == 0L && out(4L) == ((1L, 0L, 0.0)))
  }

  test("BPE: deterministic merges on a known histogram; encode replays them") {
    import spark.implicits._
    // word [a,a,a,b] ×3: pair counts (a,a)=6, (a,b)=3 → merge (a,a);
    // then (aa,a)=3 ties (a,b)=3 → lexicographic pick (a,b); then (aa,ab)
    val merges = Bpe.trainOnHistogram(Seq(("aaab", 3L)), 3)
    assert(merges == Seq(("a", "a"), ("a", "b"), ("aa", "ab")))
    // asking for more merges than exist stops early
    assert(Bpe.trainOnHistogram(Seq(("aaab", 3L)), 10) == merges)
    // encode replays the ranks greedily
    assert(Bpe.encodeWord("aaab", merges).toSeq == Seq("aaab"))
    assert(Bpe.encodeWord("aab", merges).toSeq == Seq("aa", "b"))
    assert(Bpe.encodeWord("ba", merges).toSeq == Seq("b", "a"))
    // distributed paths: histogram training + native-expression encode
    val df = Seq("aaab aaab", "aaab aab").toDF("text")
    assert(Bpe.train(df, "text", 3) == merges)
    val enc = df.select(Bpe.encodeTokens(col("text"), merges).as("t"))
      .collect().map(_.getSeq[String](0).toSeq).toSeq
    assert(enc == Seq(Seq("aaab", "aaab"), Seq("aaab", "aa", "b")))
  }

  test("DSIR resample shifts the pick toward the target distribution") {
    import spark.implicits._
    // two token dialects; target = dialect A. DSIR must overwhelmingly
    // pick A-docs even though they are only half the corpus.
    val corpus = (0 until 40).map { i =>
      if (i % 2 == 0) (i.toLong, "alpha beta gamma alpha beta", true)
      else (i.toLong, "omega psi chi omega psi", false)
    }.toDF("id", "text", "tgt")
    val w = Dsir.importanceWeights(corpus, "id", "text", col("tgt"))
    assert(w.count() == 40)
    // every A-doc outweighs every B-doc
    val minA = w.join(corpus, "id").filter(col("tgt")).agg(min("dsir_logw")).head().getDouble(0)
    val maxB = w.join(corpus, "id").filter(!col("tgt")).agg(max("dsir_logw")).head().getDouble(0)
    assert(minA > maxB, s"minA=$minA maxB=$maxB")
    val picked = Dsir.resample(w, "id", 10).join(corpus, "id")
    assert(picked.filter(col("tgt")).count() >= 9)
    // deterministic: same draw twice
    val again = Dsir.resample(w, "id", 10).select("id").collect().map(_.getLong(0)).toSet
    assert(picked.select("id").collect().map(_.getLong(0)).toSet == again)
  }

  test("DSIR hashed-bucket weights track exact-gram weights") {
    // B=1<<20 over a ~2.5k-gram vocabulary: a handful of collisions at
    // most, so hashed weights stay close to exact and agree on the top
    val exact = Dsir.importanceWeights(docs, "doc_id", "text", col("lang") === "en")
    val hashed = Dsir.importanceWeights(docs, "doc_id", "text", col("lang") === "en",
      buckets = Some(1 << 20))
    val j = exact.withColumnRenamed("dsir_logw", "e")
      .join(hashed.withColumnRenamed("dsir_logw", "h"), "doc_id")
    assert(j.count() == 500)
    val avgAbs = j.agg(avg(abs(col("e") - col("h")))).head().getDouble(0)
    assert(avgAbs < 0.05, s"avg |exact-hashed| = $avgAbs")
    val topE = exact.orderBy(col("dsir_logw").desc, col("doc_id")).limit(20)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val topH = hashed.orderBy(col("dsir_logw").desc, col("doc_id")).limit(20)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert((topE & topH).size >= 16, s"top-20 overlap ${(topE & topH).size}")
  }

  test("Gopher rules pass real prose and reject junk") {
    import spark.implicits._
    val prose = ("the quick brown fox jumps over the lazy dog and that was fine " +
      "to be seen with all of them and have a rest ") * 4
    val samples = Seq(
      (1L, prose),                                   // pass
      (2L, "short text"),                            // too few words
      (3L, ("#### " * 60) + prose),                  // symbol ratio
      (4L, ("999 111 " * 40))                        // no alpha, no stopwords
    ).toDF("id", "text")
    val out = QualityRules.gopherStats(samples, "id", "text")
      .select("id", "pass").collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out(1L), "real prose must pass")
    assert(!out(2L) && !out(3L) && !out(4L))
  }

  test("sequence packing offsets equal the sequential prefix sum") {
    val packed = Packing.pack(docs, "doc_id", "text", seqLen = 1024)
      .orderBy("doc_id").collect()
    var acc = 0L
    packed.foreach { r =>
      assert(r.getLong(2) == acc, s"doc ${r.getLong(0)}: offset ${r.getLong(2)} != $acc")
      assert(r.getLong(3) == acc / 1024 && r.getLong(4) == acc % 1024)
      acc += r.getLong(1)
    }
    // multiple range partitions actually exercised the two-phase path
    assert(packed.length == 500)
  }

  test("temperature sampling flattens the head and is deterministic") {
    val before = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sampled = Mixing.temperatureSample(docs, "doc_id", "lang", 0.5, 300)
    val after = sampled.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // head language (en) keep-rate must be lower than the tail's
    val keep = after.map { case (l, n) => l -> n.toDouble / before(l) }
    assert(keep("en") < keep.filterNot(_._1 == "en").values.min,
      s"keep rates $keep")
    // total lands near the budget (hash draw is binomial around it)
    val tot = after.values.sum
    assert(tot > 200 && tot < 400, s"total $tot")
    val again = Mixing.temperatureSample(docs, "doc_id", "lang", 0.5, 300)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sampled.select("doc_id").collect().map(_.getLong(0)).toSet == again)
  }

  test("SemDeDup removes perturbed twins and keeps singletons") {
    import spark.implicits._
    // plant near-identical twins of 5 vectors; semanticDedup must put each
    // twin pair in one group and keep exactly one of the two
    val base = embs.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val twins = base.filter(col("vec_id") < 5)
      .select((col("vec_id") + 10000).as("vec_id"),
        transform(col("e"), x => x * 1.0001).as("e"))
    val corpus = base.unionAll(twins)
    val out = SemDedup.semanticDedup(corpus, "vec_id", "e", eps = 0.99, nlist = 4)
      .cache()
    val n = out.count()
    assert(n == base.count() + 5)
    // each planted twin shares a group with its original
    val planted = out.filter(col("id") >= 10000)
      .select("id", "sem_group").collect()
      .map(r => r.getLong(0) - 10000 -> r.getLong(1)).toMap
    val origGroup = out.filter(col("id") < 5)
      .select("id", "sem_group").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 5L).foreach { i =>
      assert(planted(i) == origGroup(i), s"twin $i split from original") }
    // exactly one kept per group, and kept count = distinct groups
    val kept = out.filter(col("keep")).count()
    val groups = out.select("sem_group").distinct().count()
    assert(kept == groups && kept == n - 5)
    out.unpersist()
  }

  test("chunking covers every token with the declared stride") {
    val chunks = TextAnalysis.chunk(docs, "doc_id", "text", size = 32, overlap = 8)
    val j = chunks.groupBy("doc_id")
      .agg(max("chunk_id").as("mx"), sum("n_chunk_tokens").as("st"),
        count(lit(1)).as("nc"))
      .join(docs.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n")), "doc_id")
    // chunk count formula and token coverage: sum of chunk sizes =
    // n + overlap·(nc−1) (each chunk after the first re-reads 8 tokens)
    assert(j.filter(col("nc") =!= greatest(lit(1),
      ceil((col("n") - 8).cast("double") / 24).cast("long"))).count() == 0)
    assert(j.filter(col("st") =!= col("n") + (col("nc") - 1) * 8).count() == 0)
  }

  test("quality classifier separates prose from junk on a holdout") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val words = Seq("the", "cat", "sat", "on", "a", "mat", "and", "dog", "ran",
      "to", "house", "tree", "bird", "sky", "sun")
    val junk = Seq("xx1", "zz9", "@@", "##", "%%", "q7q", "k2k", "!!", "??", "~~")
    val corpus = (0 until 300).map { i =>
      val pool = if (i % 2 == 0) words else junk
      val text = Seq.fill(30)(pool(rnd.nextInt(pool.size))).mkString(" ")
      (i.toLong, text, i % 2)
    }.toDF("id", "text", "lbl")
    val scored = QualityClassifier.trainScore(
      corpus, "id", "text", "lbl", trainFilter = col("id") % 5 =!= 0)
    val holdout = scored.filter(col("id") % 5 === 0)
    val correct = holdout.filter(
      (col("label") === 1 && col("quality_prob") > 0.5) ||
      (col("label") === 0 && col("quality_prob") <= 0.5)).count()
    val total = holdout.count()
    assert(total == 60 && correct >= 54, s"holdout accuracy $correct/$total")
  }

  test("persisted IVF index probes via partition pruning and matches brute force") {
    val path = tmpDir("graft-ivf")
    Ivf.buildIndex(embs, "vec_id", "embedding", path, nlist = 8)
    val q = embs.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    // full probe == brute force (same ids, exact recall)
    val full = Ivf.probeIndex(spark, path, "vec_id", "embedding", q, 10, nprobe = 8)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val brute = Similarity.bruteForceTopK(embs, "vec_id", "embedding", q, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(full == brute)
    // narrow probe: plan prunes on the __ivf partition column
    val narrow = Ivf.probeIndex(spark, path, "vec_id", "embedding", q, 10, nprobe = 2)
    val plan = narrow.queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    assert(pf.contains("__ivf"), s"no partition pruning in:\n$pf")
    // the probed buckets contain the true top hit (query vector itself)
    assert(narrow.select("vec_id").collect().map(_.getLong(0)).headOption.contains(0L))
  }

  test("IVF append: frozen centroids, union visible to probes, balance report") {
    val path = tmpDir("graft-ivf-add")
    val half1 = embs.filter(col("vec_id") % 2 === 0)
    val half2 = embs.filter(col("vec_id") % 2 === 1)
    Ivf.buildIndex(half1, "vec_id", "embedding", path, nlist = 8)
    val before = Ivf.readCentroids(spark, path)
    Ivf.appendToIndex(half2, "vec_id", "embedding", path)
    // add never retrains
    val after = Ivf.readCentroids(spark, path)
    assert(before.flatten.toSeq == after.flatten.toSeq)
    // full-width probe over the grown index == brute force over the union
    val q = embs.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    val probed = Ivf.probeIndex(spark, path, "vec_id", "embedding", q, 10, nprobe = 8)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val brute = Similarity.bruteForceTopK(embs, "vec_id", "embedding", q, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(probed == brute)
    // appended rows joined their cluster's directory (no new top-level dirs)
    val dirs = new java.io.File(Ivf.dataDir(spark, path)).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs.forall(_.startsWith("__ivf=")) && dirs.size <= 8, dirs.toString)
    // balance report covers every member with sane cosines
    val bal = Ivf.indexBalance(spark, path, "embedding")
    assert(bal.agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)
      == embs.count())
    assert(bal.collect().forall { r =>
      val c = r.getDouble(2); c >= -1.0001 && c <= 1.0001 })
  }

  test("quality score is in [0,1] and penalizes junk") {
    import spark.implicits._
    val good = docs.select(TextAnalysis.qualityScore(col("text")).as("q"))
    assert(good.agg(min("q"), max("q")).head().toSeq.forall {
      case d: Double => d >= 0.0 && d <= 1.0 })
    val junk = Seq("!!! ??? ### $$$ %%% ^^^ &&&").toDF("text")
      .select(TextAnalysis.qualityScore(col("text")).as("q")).head().getDouble(0)
    val prose = Seq("the quick brown fox jumps over the lazy dog and runs away to the forest")
      .toDF("text").select(TextAnalysis.qualityScore(col("text")).as("q")).head().getDouble(0)
    assert(prose > junk)
  }

  test("RRF fusion rewards docs found by both retrievers; ranks bounded") {
    val qv = embs.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    val fused = Retrieval.hybridRrf(docs, embs, "doc_id", "text",
      "vec_id", "embedding", Seq("hash", "stream", "window"), qv,
      n = 100, k = 20).collect()
    assert(fused.length == 20)
    // scores are valid RRF sums: at most 2/(60+1), decreasing
    val scores = fused.map(_.getDouble(1))
    assert(scores.head <= 2.0 / 61 + 1e-9)
    assert(scores.sameElements(scores.sorted(Ordering[Double].reverse)))
    // a doc on BOTH top-n lists outranks one with only a deep single-list hit:
    // max possible single-list score is 1/61 < two mid-list hits
    assert(scores.head > 1.0 / 61,
      "top fused doc should appear in both candidate lists")
    // deterministic across runs
    val again = Retrieval.hybridRrf(docs, embs, "doc_id", "text",
      "vec_id", "embedding", Seq("hash", "stream", "window"), qv,
      n = 100, k = 20).collect()
    assert(fused.map(_.getLong(0)).sameElements(again.map(_.getLong(0))))
  }

  test("hard negatives: different label, k per anchor, descending cosine") {
    val out = Retrieval.hardNegatives(embs, "vec_id", "embedding", "label",
      col("vec_id") < 3, k = 5)
    val rows = out.collect()
    val anchorLabels = embs.filter(col("vec_id") < 3)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val candLabels = embs.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rows.length == anchorLabels.size * 5)
    rows.groupBy(_.getLong(0)).foreach { case (a, grp) =>
      assert(grp.length == 5)
      // every mined negative carries a different label than its anchor
      grp.foreach { r =>
        assert(candLabels(r.getLong(2)) != anchorLabels(a)) }
      val cosines = grp.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(cosines.sameElements(cosines.sorted(Ordering[Double].reverse)))
    }
  }

  test("hash split is deterministic, disjoint, and near the declared ratios") {
    val split = docs.withColumn("split", TextAnalysis.hashSplit(col("doc_id")))
    val counts = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = counts.values.sum
    assert(total == docs.count())
    // 80/10/10 within sampling noise on 500 docs
    assert(math.abs(counts("train").toDouble / total - 0.8) < 0.1)
    assert(counts.keySet == Set("train", "val", "test"))
    // same id always lands in the same split (re-evaluation, new plan)
    val again = docs.withColumn("split", TextAnalysis.hashSplit(col("doc_id")))
    assert(split.select("doc_id", "split").except(
      again.select("doc_id", "split")).count() == 0)
  }

  test("length-grouped batching: pow-2 buckets, full batches, exact waste accounting") {
    val out = Packing.lengthGroupedBatches(docs, "doc_id", "text", batchSize = 32)
      .cache()
    val rows = out.collect()
    // every doc lands in exactly one batch
    assert(rows.map(_.getLong(2)).sum == docs.count())
    rows.foreach { r =>
      val (bucket, n, minL, maxL, sumL, waste) =
        (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      assert(n <= 32)
      // bucket b holds lengths in [2^(b-1), 2^b)
      assert(minL >= (1L << (bucket - 1).toInt) && maxL < (1L << bucket.toInt),
        s"bucket $bucket got lengths [$minL,$maxL]")
      assert(waste == n * maxL - sumL && waste >= 0)
    }
    // at most one ragged (non-full) batch per bucket
    rows.groupBy(_.getLong(0)).foreach { case (b, grp) =>
      assert(grp.count(_.getLong(2) < 32) <= 1, s"bucket $b has >1 ragged batch") }
    // deterministic re-run
    val again = Packing.lengthGroupedBatches(docs, "doc_id", "text", 32)
    assert(out.except(again).count() == 0 && again.except(out).count() == 0)
    out.unpersist()
  }

  test("MMR: first pick is max-relevance; λ=1 degenerates to top-k; dup vectors are deferred") {
    import spark.implicits._
    val qv = embs.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    val topk = Similarity.bruteForceTopK(
      embs.filter(col("vec_id") =!= 0), "vec_id", "embedding", qv, 10)
      .collect().map(_.getLong(0))
    // with the diversity term off, MMR must reproduce plain top-k order
    val pure = Retrieval.mmrRerank(embs, "vec_id", "embedding", qv,
      n = 20, k = 10, lambda = 1.0, mu = 0.0, excludeId = Some(0L))
      .orderBy("rank").collect().map(_.getLong(1))
    assert(pure.sameElements(topk))
    // duplicate the most relevant vector: λ<1 MMR picks the duplicate pair
    // in positions 1 and LAST-ish, never back-to-back at the top
    val best = embs.filter(col("vec_id") === pure.head)
      .withColumn("vec_id", lit(900000L))
    val withDup = embs.unionByName(best)
    val mmr = Retrieval.mmrRerank(withDup, "vec_id", "embedding", qv,
      n = 20, k = 10, lambda = 0.7, mu = 0.3, excludeId = Some(0L))
      .orderBy("rank").collect().map(_.getLong(1))
    val posOrig = mmr.indexOf(pure.head)
    val posDup = mmr.indexOf(900000L)
    assert(posOrig == 0, "max-relevance item picked first")
    // its exact duplicate (sim = 1.0) is pushed away from rank 2
    assert(posDup != 1, s"duplicate adjacent to original: ${mmr.mkString(",")}")
  }

  test("winnowing equals the textbook implementation; every window is covered") {
    import spark.implicits._

    def naive(text: String, k: Int, w: Int): Set[(Long, Long)] = {
      val n = text.length - (k - 1)
      if (n < w) return Set.empty
      val md = java.security.MessageDigest.getInstance("MD5")
      val hs = (1 to n).map { p =>
        val hex = md.digest(text.substring(p - 1, p - 1 + k)
            .getBytes("UTF-8")).map("%02x".format(_)).mkString
        java.lang.Long.parseLong(hex.take(15), 16)
      }
      (0 to n - w).map { j => // rightmost minimum of each window (the paper)
        val (h, i) = (j until j + w).map(i => (hs(i), i))
          .minBy { case (h, i) => (h, -i) }
        ((i + 1).toLong, h)
      }.toSet
    }

    val texts = Seq(
      1L -> "the quick brown fox jumps over the lazy dog repeatedly",
      2L -> "aaaaaaaaaaaaaaaaaaaa", // degenerate: all grams identical
      3L -> "short", // fewer than w grams -> nothing
      4L -> "abcdefghijkl" // exactly w grams at k=5,w=8: one window
    )
    val df = texts.toDF("doc_id", "text")
    val out = Winnow.fingerprints(df, "doc_id", "text", k = 5, w = 8)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toList
    val got = out.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    texts.foreach { case (id, t) =>
      val want = naive(t, 5, 8)
      assert(got.getOrElse(id, Set.empty) == want, s"doc $id")
    }
    // coverage guarantee on real prose: every window of w consecutive
    // grams contains at least one selected fingerprint position
    val doc = Tables.t(spark, dir, "documents")
      .filter(col("doc_id") === 7).select("doc_id", "text")
    val text = doc.head().getString(1)
    val sel = Winnow.fingerprints(doc, "doc_id", "text", k = 5, w = 8)
      .collect().map(_.getLong(1)).toSet
    val n = text.length - 4
    (1 to n - 7).foreach { j =>
      assert((j until j + 8).exists(sel.contains(_)),
        s"window at $j has no fingerprint")
    }
    // the kernel formulation is map-only: scan -> project -> generate,
    // no exchange anywhere
    val fp = Winnow.fingerprints(
      Tables.t(spark, dir, "documents"), "doc_id", "text")
    fp.collect()
    val plan = fp.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"winnowing must not shuffle:\n$plan")
  }

  test("winnow similar pairs equal pairwise fingerprint-set intersections") {
    import spark.implicits._
    val shared = "a long common passage that both documents quote verbatim"
    val docs = Seq(
      1L -> s"first document leads $shared and then diverges completely xyzzy",
      2L -> s"second doc opens differently yet contains $shared near its end",
      3L -> "entirely unrelated content with no overlap whatsoever qqwwee"
    ).toDF("doc_id", "text")
    val fps = Winnow.fingerprints(docs, "doc_id", "text", k = 5, w = 8)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val want = (for {
      a <- fps.keys; b <- fps.keys if a < b
      n = (fps(a) & fps(b)).size.toLong if n >= 1
    } yield (a, b, n)).toSet
    val got = Winnow.similarPairs(docs, "doc_id", "text", k = 5, w = 8,
        minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    // the planted clone pair dominates any accidental overlap
    val clone = got.find(p => p._1 == 1L && p._2 == 2L)
    assert(clone.isDefined, s"clone pair missing: $got")
    assert(clone.get._3 >= 5, s"clone pair should share many fingerprints: $clone")
  }

  test("sharding: seq is a dense permutation, shards balanced ±1, layout deterministic") {
    import spark.implicits._
    val docs = (0L until 1000L).map(i => (i, s"doc $i body")).toDF("doc_id", "text")
    val a = Sharding.assign(docs, "doc_id", salt = "s1", nShards = 7)
      .select("doc_id", "seq", "shard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // dense 0..N-1 rank, exactly once each
    assert(a.map(_._2).sorted.toSeq == (0L until 1000L))
    // block-contiguous shards, sizes within 1 of each other
    val sizes = a.groupBy(_._3).view.mapValues(_.length).toMap
    assert(sizes.keySet == (0 until 7).toSet)
    assert(sizes.values.max - sizes.values.min <= 1, s"unbalanced: $sizes")
    // same salt => identical layout (reproducible epoch order);
    // different salt => a different permutation
    val b = Sharding.assign(docs, "doc_id", salt = "s1", nShards = 7)
      .select("doc_id", "seq", "shard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(a.sortBy(_._1).toSeq == b.sortBy(_._1).toSeq)
    val c = Sharding.shuffled(docs, "doc_id", salt = "s2")
      .select("doc_id", "seq").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(c.sortBy(_._1).map(_._2).toSeq != a.sortBy(_._1).map(_._2).toSeq)
    // per-shard packing: offsets start at 0 and are gap-free within a shard
    val packed = Sharding.packShards(docs, "doc_id", "text",
        salt = "s1", nShards = 7, seqLen = 8)
      .select("shard", "seq", "n_tokens", "shard_offset").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    packed.groupBy(_._1).foreach { case (_, rows) =>
      val inOrder = rows.sortBy(_._2)
      assert(inOrder.head._4 == 0L, "first doc of a shard must pack at offset 0")
      inOrder.sliding(2).foreach {
        case Array(p, q) => assert(q._4 == p._4 + p._3,
          s"offset gap within shard: $p -> $q")
        case _ =>
      }
    }
  }

  test("incremental dedup: replays drop, edits near-match, fresh content passes") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "completely different content about distributed query engines at scale"),
      (3L, "a third document with its own unique words nothing shared here")
    ).toDF("doc_id", "text")
    // exact path: byte replay drops, any edit passes
    val exIdx = Incremental.exactIndex(corpus, "text")
    val exIn = Seq(
      (11L, "the quick brown fox jumps over the lazy dog again and again today"),
      (12L, "the quick brown fox jumps over the lazy dog again and again tomorrow"))
      .toDF("doc_id", "text")
    assert(Incremental.filterNewExact(exIdx, exIn, "text")
      .select("doc_id").as[Long].collect().toSet == Set(12L))
    // near path: a one-token edit of an indexed doc is condemned by
    // signature agreement; unrelated text passes
    val sigIdx = Incremental.signatureIndex(corpus, "doc_id", "text")
    val nearIn = Seq(
      (21L, "the quick brown fox jumps over the lazy dog again and again today extra"),
      (22L, "entirely novel material mentioning neither foxes nor engines whatsoever"))
      .toDF("doc_id", "text")
    val kept = Incremental.filterNewNear(sigIdx, nearIn, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(22L), s"expected only the novel doc to survive: $kept")
    // an exact replay has identical signatures -> agreement 1.0 -> drops
    val replay = Seq((31L,
      "a third document with its own unique words nothing shared here"))
      .toDF("doc_id", "text")
    assert(Incremental.filterNewNear(sigIdx, replay, "doc_id", "text").count() == 0)
  }

  test("sharding: write emits one parquet file per shard, readable by shard dir") {
    import spark.implicits._
    val docs = (0L until 200L).map(i => (i, s"d $i")).toDF("doc_id", "text")
    val out = tmpDir("graft-shards")
    Sharding.write(docs, "doc_id", salt = "w", nShards = 4, outDir = out)
    (0 until 4).foreach { sh =>
      val files = new java.io.File(s"$out/shard=$sh")
        .listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"shard $sh: ${files.length} files")
    }
    val back = spark.read.parquet(out)
    assert(back.count() == 200)
    assert(back.select("doc_id").distinct().count() == 200)
  }

  test("substring dedup: hand-computed spans, merge, excision, pass-through") {
    import spark.implicits._
    // doc 1 owns "a b c d"; doc 2 repeats it twice with a gap; doc 3 is
    // shorter than k; doc 4 shares nothing; doc 5 is an exact copy of doc 1
    val corpus = Seq(
      (1L, "a b c d x y z w"),
      (2L, "a b c d q q q q q a b c d"),
      (3L, "a b c"),
      (4L, "p q r s t u v w"),
      (5L, "a b c d x y z w")
    ).toDF("doc_id", "text")
    val spans = SubstringDedup.duplicatedSpans(corpus, "doc_id", "text", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    // doc 2: [0,3] and [9,12]; doc 5: whole text [0,7] (every 4-gram shared
    // with doc 1, overlapping covers merge into one span)
    assert(spans.toSeq == Seq((2L, 0L, 3L, 4L), (2L, 9L, 12L, 4L), (5L, 0L, 7L, 8L)))

    val clean = SubstringDedup.removeDuplicated(corpus, "doc_id", "text", k = 4)
      .select("doc_id", "removed_tokens", "clean_text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1)
    assert(clean.toSeq == Seq(
      (1L, 0L, "a b c d x y z w"),     // owner keeps the canonical copy
      (2L, 8L, "q q q q q"),           // both repeats excised, middle kept
      (3L, 0L, "a b c"),               // below shingle resolution: untouched
      (4L, 0L, "p q r s t u v w"),     // nothing shared
      (5L, 8L, "")))                   // fully duplicated document vanishes
  }

  test("substring dedup: adjacent covers merge into one maximal span") {
    import spark.implicits._
    // doc 20 contains doc 10's run split across two shingles whose covers
    // touch seamlessly (positions 0 and 4 with k=4 → [0,3] + [4,7])
    val corpus = Seq(
      (10L, "a b c d e f g h"),
      (20L, "a b c d e f g h tail1 tail2 tail3")
    ).toDF("doc_id", "text")
    val spans = SubstringDedup.duplicatedSpans(corpus, "doc_id", "text", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(spans.toSeq == Seq((20L, 0L, 7L)))
  }

  test("edit-distance join: finds exactly the <=d pairs, no cross product") {
    import spark.implicits._
    val rows = Seq(
      (1L, "kitten"), (2L, "sitten"),   // substitution: d=1
      (3L, "kitte"),                    // deletion vs 1: d=1
      (4L, "kittens"),                  // insertion vs 1: d=1
      (5L, "sitting"),                  // d=2 from 2 — excluded at d=1
      (6L, "zebra"), (7L, "kitten")     // exact copy of 1: d=0
    ).toDF("id", "s")
    val got = EditDistance.pairsWithin(rows, "id", "s", d = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(
      (1L, 2L, 1L), (1L, 3L, 1L), (1L, 4L, 1L), (1L, 7L, 0L),
      (2L, 7L, 1L), (3L, 7L, 1L), (4L, 7L, 1L)),
      s"got $got")
    // no cartesian product in the plan
    val plan = EditDistance.pairsWithin(rows, "id", "s", d = 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      "edit-distance join must stay an equi-join on deletion variants")
  }

  test("jsonl shard export: one file per shard, dense seq, parseable lines") {
    import spark.implicits._
    val docs = (0L until 200L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val out = tmpDir("graft-jsonl")
    Export.writeJsonlShards(docs, "doc_id", salt = "j", nShards = 4, out)
    (0 until 4).foreach { sh =>
      val files = new java.io.File(s"$out/shard=$sh")
        .listFiles().filter(_.getName.startsWith("part-"))
      assert(files.length == 1, s"shard $sh: ${files.length} files")
    }
    val back = spark.read.format("text").load(out)
      .select(col("shard"),
        get_json_object(col("value"), "$.doc_id").cast("long").as("doc_id"),
        get_json_object(col("value"), "$.seq").cast("long").as("seq"))
    assert(back.count() == 200)
    assert(back.select("seq").distinct().count() == 200)
    assert(back.agg(min("seq"), max("seq")).head() ==
      org.apache.spark.sql.Row(0L, 199L))
    // same assignment as the parquet path
    val expect = Sharding.assign(docs, "doc_id", "j", 4)
      .select("doc_id", "seq", "shard")
    assert(back.select("doc_id", "seq", "shard")
      .except(expect).count() == 0)
  }

  test("webdataset tar shards: ustar round-trip, pair members, determinism") {
    import spark.implicits._
    val docs = (0L until 50L).map(i => (i, s"sample text $i")).toDF("doc_id", "text")
    val out1 = tmpDir("graft-tar1")
    val out2 = tmpDir("graft-tar2")
    Export.writeTarShards(docs, "doc_id", "text", salt = "t", nShards = 2, out1)
    Export.writeTarShards(docs, "doc_id", "text", salt = "t", nShards = 2, out2)

    def members(path: java.io.File): Seq[(String, String)] = {
      val bytes = java.nio.file.Files.readAllBytes(path.toPath)
      var off = 0
      val out = Seq.newBuilder[(String, String)]
      while (off + 512 <= bytes.length && bytes(off) != 0) {
        val name = new String(bytes, off, 100, "US-ASCII").takeWhile(_ != 0)
        val size = java.lang.Long.parseLong(
          new String(bytes, off + 124, 11, "US-ASCII").trim, 8).toInt
        // checksum must validate (spaces substituted for the field)
        val stored = java.lang.Long.parseLong(
          new String(bytes, off + 148, 6, "US-ASCII").trim, 8)
        var sum = 0L
        for (i <- 0 until 512)
          sum += (if (i >= 148 && i < 156) ' '.toByte else bytes(off + i)) & 0xff
        assert(sum == stored, s"checksum mismatch at $name")
        assert(new String(bytes, off + 257, 5, "US-ASCII") == "ustar")
        out += name -> new String(bytes, off + 512, size, "UTF-8")
        off += 512 + ((size + 511) / 512) * 512
      }
      out.result()
    }

    val tars = new java.io.File(out1).listFiles()
      .filter(_.getName.endsWith(".tar")).sortBy(_.getName)
    assert(tars.length == 2, tars.map(_.getName).mkString(","))
    val all = tars.flatMap(members).toSeq
    assert(all.size == 100) // 50 samples x (txt + json)
    // consecutive .txt/.json pairs sharing the seq key, in shuffle order
    val assigned = Sharding.assign(docs, "doc_id", "t", 2)
      .select("doc_id", "seq", "shard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val bySeq = assigned.map(a => a._2 -> a._1).toMap
    all.grouped(2).foreach { case Seq((tn, text), (jn, json)) =>
      assert(tn.endsWith(".txt") && jn.endsWith(".json"))
      val seq = tn.stripSuffix(".txt").toLong
      assert(jn.stripSuffix(".json").toLong == seq)
      assert(text == s"sample text ${bySeq(seq)}")
      assert(json.contains(s""""seq":$seq"""))
    }
    // byte-identical across runs
    tars.foreach { t =>
      val twin = new java.io.File(out2, t.getName)
      assert(java.util.Arrays.equals(
        java.nio.file.Files.readAllBytes(t.toPath),
        java.nio.file.Files.readAllBytes(twin.toPath)),
        s"${t.getName} not deterministic")
    }
  }

  test("filtered IVF probe widens until the filter has k survivors") {
    import spark.implicits._
    // cluster A hugs (1,0); cluster B hugs (0,1). The filter keeps ONLY
    // B members, but the query sits in A — nprobe=1 reads A, finds zero
    // survivors, and must widen to reach B instead of silently returning
    // an empty (or short) result.
    val vecs = (
      (0 until 20).map(i => (i.toLong, Seq(1.0f, 0.001f * i), 0)) ++
      (20 until 40).map(i => (i.toLong, Seq(0.001f * i, 1.0f), 1))
    ).toDF("vec_id", "embedding", "label")
    val path = tmpDir("ivf-filt")
    Ivf.buildIndex(vecs, "vec_id", "embedding", path, nlist = 2, iters = 4)
    val query = Array(1.0, 0.0)
    val got = Ivf.probeIndexFiltered(spark, path, "vec_id", "embedding",
      query, k = 5, filter = col("label") === 1, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.length == 5, s"widening must still deliver k results, got ${got.length}")
    val brute = Similarity.bruteForceTopK(
      vecs.filter(col("label") === 1), "vec_id", "embedding", query, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == brute.toSeq,
      s"widened probe must equal exact filtered search: $got vs $brute")
  }

  test("edit-distance join at d=2 catches two-edit pairs") {
    import spark.implicits._
    val rows = Seq((1L, "kitten"), (2L, "sitting"), (3L, "mitten")).toDF("id", "s")
    val got = EditDistance.pairsWithin(rows, "id", "s", d = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.contains((1L, 3L, 1L)))
    assert(!got.exists(p => p._1 == 1L && p._2 == 2L),
      "kitten->sitting is d=3, must not appear")
  }

  test("drift: identical snapshots score ~0 PSI, a shifted one drifts; profiles diff") {
    import spark.implicits._
    import graft.pipeline.Drift
    val base = (1 to 1000).map(i => (i.toLong, (i % 100).toDouble, s"s${i % 5}"))
      .toDF("id", "v", "src")
    // same distribution, different rows
    val same = (1 to 1000).map(i => (i.toLong + 5000, (i % 100).toDouble, s"s${i % 5}"))
      .toDF("id", "v", "src")
    // mass moved up by 60: most values land in different bins
    val shifted = base.withColumn("v", col("v") + 60.0)

    def psiOf(cur: org.apache.spark.sql.DataFrame): Long =
      Drift.psi(base, cur, "v").head().getLong(4)
    assert(psiOf(same) == 0L, "identical distribution must score 0")
    assert(psiOf(shifted) > 250000L, s"shifted distribution must exceed 0.25: ${psiOf(shifted)}")
    // shifted values above the baseline max clamp into the top bin
    val bins = Drift.psi(base, shifted, "v").collect()
    assert(bins.map(_.getLong(2)).sum == 1000L, "no current rows may vanish")

    // id <= 50 keeps v in {1..50}: 100 -> 50 distincts, rows 1000 -> 50
    val d = Drift.drift(base, base.filter(col("id") <= 50), Seq("v", "src"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(7), r.getLong(8))).toMap
    assert(d("v") == ((1000L, 50L, -950L, -50L)), d.toString)
    assert(d("src")._4 == 0L)                          // all 5 sources survive
  }

  test("curriculum shards: difficulty-monotonic blocks, exact balance") {
    import graft.pipeline.Sharding
    val cur = Sharding.curriculum(
      docs.withColumn("__t", TextAnalysis.tokenCount(col("text")).cast("long")),
      "doc_id", col("__t"), nShards = 8).cache()
    val stats = cur.groupBy("shard")
      .agg(count(lit(1)).as("n"), min("__t").as("lo"), max("__t").as("hi"))
      .orderBy("shard").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(stats.map(_._1).toSeq == (0 until 8))
    // contiguous rank blocks over a difficulty sort: shard k's hardest doc
    // is never harder than shard k+1's easiest
    stats.sliding(2).foreach { case Array(a, b) =>
      assert(a._4 <= b._3, s"non-monotonic shards: $a -> $b") }
    // exact balance (±1)
    val sizes = stats.map(_._2)
    assert(sizes.max - sizes.min <= 1, sizes.toSeq.toString)
    // seq is a permutation of 0..N-1
    val n = cur.count()
    assert(cur.agg(min("seq"), max("seq"), countDistinct("seq")).head().toSeq
      == Seq(0L, n - 1, n))
    cur.unpersist()
  }

  test("phash: deterministic, robust to small payload edits, separates unrelated media") {
    import spark.implicits._
    import graft.pipeline.Multimodal
    import graft.pipeline.Multimodal.{MediaRow, Phash}
    // deterministic pseudo-image payloads (LCG bytes)
    def payload(seed: Long, n: Int): Array[Byte] = {
      var s = seed
      Array.fill(n) {
        s = s * 6364136223846793005L + 1442695040888963407L
        (s >>> 33).toByte
      }
    }
    val base = payload(1L, 4096)
    val near = base.clone()
    for (i <- Seq(7, 999, 2048)) near(i) = (near(i) ^ 0x5a).toByte
    val far = payload(99L, 4096)

    // deterministic across calls
    assert(Phash.hash64(base) == Phash.hash64(base.clone()))
    // a 3-byte edit moves few DCT signs; unrelated payloads ~half the bits
    val hNear = java.lang.Long.bitCount(Phash.hash64(base) ^ Phash.hash64(near))
    val hFar = java.lang.Long.bitCount(Phash.hash64(base) ^ Phash.hash64(far))
    assert(hNear <= 6, s"near pair hamming $hNear")
    assert(hFar > 16, s"unrelated pair hamming $hFar")
    // constant brightness shift touches only the DC coefficient
    val bright = base.map(b => math.min(255, (b & 0xff) + 10).toByte)
    assert(java.lang.Long.bitCount(
      Phash.hash64(base) ^ Phash.hash64(bright)) <= 8)

    val media = Seq(
      MediaRow(1L, "image", base, 64, 64, 0),
      MediaRow(2L, "image", near, 64, 64, 0),
      MediaRow(3L, "image", far, 64, 64, 0)
    ).toDS()
    val pairs = Multimodal.phashNearDupPairs(media, bands = 4, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), pairs.toString)
  }

  test("systematic PPS: exactly k hits, heavy items draw multiplicity, integer-deterministic") {
    import spark.implicits._
    val k = 7
    // one heavy doc (weight > 2 strides) among light ones
    val rows = Seq((1L, 10L), (2L, 10L), (3L, 300L), (4L, 10L), (5L, 10L),
                   (6L, 10L), (7L, 10L), (8L, 10L), (9L, 10L), (10L, 10L))
      .toDF("doc_id", "wt")
    val out = Sampling.systematicPps(rows, "doc_id", "wt", k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.map(_._3).sum == k, out.mkString(","))
    val hits = out.map(t => t._1 -> t._3).toMap
    // heavy doc covers 300/390 of the line -> at least floor(k*300/390)=5 hits
    assert(hits(3L) >= 5, hits.toString)
    // sequential reference: same midpoint-boundary walk on the driver
    val ws = (1L to 10L).map(i => i -> (if (i == 3L) 300L else 10L))
    val W = ws.map(_._2).sum
    var cum = 0L
    val ref = ws.flatMap { case (id, w) =>
      val g1 = math.min(k.toLong, (2L * k * (cum + w) + W) / (2L * W))
      val g0 = math.min(k.toLong, (2L * k * cum + W) / (2L * W))
      cum += w
      if (g1 > g0) Some(id -> (g1 - g0)) else None
    }.toMap
    assert(hits == ref, s"spark=$hits ref=$ref")
    // zero-weight rows can never be selected
    val withZero = rows.unionAll(Seq((11L, 0L)).toDF("doc_id", "wt"))
    val out2 = Sampling.systematicPps(withZero, "doc_id", "wt", k)
    assert(out2.filter(col("doc_id") === 11L).count() == 0)
    assert(out2.agg(sum("n_hits")).head().getLong(0) == k)
  }

  test("semantic decontamination: exact-dup train vec flagged, orthogonal not; bench broadcasts") {
    import spark.implicits._
    val e1 = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val e2 = Array(0.0f, 1.0f, 0.0f, 0.0f)
    val e3 = Array(0.9f, 0.1f, 0.0f, 0.0f) // cos vs e1 = 0.9939
    val train = Seq((10L, e1), (11L, e2), (12L, e3)).toDF("vec_id", "embedding")
    val bench = Seq((1L, e1)).toDF("bid", "embedding")
    val out = Decontaminate.semanticContamination(
      train, "vec_id", "embedding", bench, "embedding", threshold = 0.9)
    val got = out.collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got.keySet == Set(10L, 12L), got.toString)
    assert(got(10L) == 1.0 && got(12L) > 0.99, got.toString)
    // scale shape: the bench side must broadcast (no shuffle of train vectors
    // into a cartesian) - exact operator, broadcast nested-loop plan
    val phys = out.queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastNestedLoopJoin"), phys.take(2000))
    assert(!phys.contains("CartesianProduct"), phys.take(2000))
  }

  test("tombstone rewrite: ids gone, clean shards byte-untouched, emptied shard dir dropped") {
    import spark.implicits._
    val out = tmpDir("graft-tomb-spec")
    Sharding.write(docs, "doc_id", salt = "ts", nShards = 8, out)
    val before = spark.read.parquet(out)
    val beforeCount = before.count() // eager: `before` is stale post-rewrite
    // pick one shard and tombstone ALL its docs (dir must vanish), plus two
    // docs from another shard (partial rewrite); the rest stay untouched
    val byShard = before.groupBy("shard").agg(collect_list("doc_id").as("ids"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    val fullShard = byShard.keys.min
    val partialShard = byShard.keys.max
    val tombIds = byShard(fullShard) ++ byShard(partialShard).take(2)
    val fileState = new java.io.File(out).listFiles.filter(_.isDirectory)
      .map(d => d.getName -> d.listFiles.map(f => (f.getName, f.lastModified, f.length)).toSet)
      .toMap
    val audit = Sharding.deleteRewrite(spark, out, "doc_id",
        tombIds.toDF("doc_id"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(audit(fullShard) == (byShard(fullShard).size.toLong, 0L), audit.toString)
    assert(audit(partialShard)._1 == 2L, audit.toString)
    assert(audit.size == 2, audit.toString)
    // emptied shard dir is gone; survivors readable; no tombstoned id remains
    assert(!new java.io.File(s"$out/shard=$fullShard").exists())
    val after = spark.read.parquet(out)
    assert(after.filter(col("doc_id").isin(tombIds.map(Long.box): _*)).count() == 0)
    assert(after.count() == beforeCount - tombIds.size)
    // unaffected shard partitions: files byte-identical (same name/mtime/size)
    val afterState = new java.io.File(out).listFiles.filter(_.isDirectory)
      .map(d => d.getName -> d.listFiles.map(f => (f.getName, f.lastModified, f.length)).toSet)
      .toMap
    val untouched = fileState.keySet -- Set(s"shard=$fullShard", s"shard=$partialShard")
    untouched.foreach(k => assert(afterState(k) == fileState(k), s"shard $k was rewritten"))
  }

  test("k-anonymity report: violation classes, passing groups excluded") {
    import spark.implicits._
    // group A: 5 rows, 3 users -> passes both; group B: 2 rows (k viol);
    // group C: 6 rows but 1 user (l viol); group D: 1 row, 1 user (both)
    val rows =
      (1 to 5).map(i => ("A", i.toLong)) ++
      Seq(("B", 1L), ("B", 2L), ("B", 3L)).take(2).map{case (g,u) => (g,u)} ++
      (1 to 6).map(_ => ("C", 7L)) ++
      Seq(("D", 9L))
    val df = rows.toDF("qi", "user")
    val out = Pii.kAnonymityReport(df, Seq("qi"), "user", k = 5, l = 3)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(!out.contains("A"), out.toString)
    assert(out("B") == ((2L, 2L, "k_and_l")), out.toString)
    assert(out("C") == ((6L, 1L, "l_diversity")), out.toString)
    assert(out("D") == ((1L, 1L, "k_and_l")), out.toString)
  }

  test("audio frames: sine RMS/ZCR exact, silence unvoiced, framing geometry") {
    import spark.implicits._
    // 1024 samples: first 512 a square wave (+A/-A alternating every 8
    // samples), last 512 silence. Square wave RMS = A exactly.
    val amp = 1000
    val pcm = new Array[Byte](2048)
    for (i <- 0 until 512) {
      val v = if ((i / 8) % 2 == 0) amp else -amp
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    val media = Seq(
      Multimodal.MediaRow(1L, "audio", pcm, 0, 0, 16000),
      Multimodal.MediaRow(2L, "image", pcm, 8, 8, 0) // filtered out
    ).toDS()
    val frames = Multimodal.audioFrames(media,
        frameSamples = 256, hopSamples = 256, vadRmsMilli = 500000)
      .collect().map(r => r.getInt(1) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    // (1024-256)/256+1 = 4 frames; frames 0-1 squarewave, 2-3 silence
    assert(frames.size == 4, frames.toString)
    assert(frames(0)._1 == amp * 1000L, frames.toString) // RMS == A exactly
    assert(frames(0)._3 && frames(1)._3, "square frames voiced")
    assert(frames(2) == ((0L, 0L, false)) && frames(3) == ((0L, 0L, false)))
    // square wave crosses every 8 samples: 256/8 - 1 crossings per frame?
    // signs flip at i=8,16,...,248 -> 31 crossings; zcr = 10000*31/255
    assert(frames(0)._2 == 10000L * 31 / 255, frames.toString)
    // image row contributed nothing
    assert(!Multimodal.audioFrames(media, 256, 256, 0)
      .select("media_id").distinct().collect().map(_.getLong(0)).contains(2L))
  }

  test("containment pairs: subset doc scores 1.0 despite low jaccard; direction small->large") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "en", "alpha beta gamma delta"),
      // contains ALL of doc 1's tokens plus 16 more: J = 4/20 = 0.2, C = 1.0
      (2L, "en", "alpha beta gamma delta e f g h i j k l m n o p q r s t"),
      (3L, "en", "completely different words entirely here now today folks"),
      (4L, "de", "alpha beta gamma delta") // other lang: blocked
    ).toDF("doc_id", "lang", "text")
    val out = Dedup.containmentPairs(corpus, "doc_id", "text", "lang",
        n = 1, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSet == Set((1L, 2L, 1.0)), out.mkString(","))
  }

  test("prefix-filtered jaccard equals the exact blocked join on the fixture") {
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = key(Dedup.ngramJaccardPairs(docs, "doc_id", "text", "lang",
      n = 1, threshold = 0.8))
    val pp = key(Dedup.prefixFilteredJaccardPairs(docs, "doc_id", "text", "lang",
      n = 1, threshold = 0.8))
    assert(pp == exact, s"missing=${(exact -- pp).take(5)} extra=${(pp -- exact).take(5)}")
    assert(exact.nonEmpty)
  }

  test("IVF rebalance: drifted-append index rebuilds, rows preserved, skew shrinks, probe intact") {
    val dir = tmpDir("graft-ivf-rebal")
    // stale index: trained on the first half only; second half appended
    // against those stale centroids (the drift scenario)
    val half1 = embs.filter(col("vec_id") < 250)
    val half2 = embs.filter(col("vec_id") >= 250)
    Ivf.buildIndex(half1, "vec_id", "embedding", dir, nlist = 8)
    Ivf.appendToIndex(half2, "vec_id", "embedding", dir)
    val total = spark.read.parquet(Ivf.dataDir(spark, dir)).count()
    val genBefore = Ivf.currentGenDir(spark, dir)
    val rep = Ivf.rebalanceIndex(spark, dir, "vec_id", "embedding", nlist = 8)
      .collect().head
    assert(rep.getLong(1) == total, rep.toString)
    // quantization quality (the k-means objective) must not degrade when
    // retraining on the full contents vs the stale half-trained centroids
    assert(rep.getLong(5) >= rep.getLong(4), rep.toString)
    assert(rep.getLong(2) >= 100 && rep.getLong(3) >= 100, rep.toString)
    // the rebuilt index still serves probes (k results, pruned read)
    val q = embs.filter(col("vec_id") === 1)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    assert(Ivf.probeIndex(spark, dir, "vec_id", "embedding", q, 10).count() == 10)
    // the swap published a NEW generation and pruned the old one: the
    // manifest moved, exactly one gen_* dir remains, and data+centroids
    // live together inside it (never a mixed pair)
    val genAfter = Ivf.currentGenDir(spark, dir)
    assert(genAfter != genBefore, s"$genBefore -> $genAfter")
    val gens = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("gen_")).map(_.getName)
    assert(gens.length == 1 && s"$dir/${gens.head}" == genAfter, gens.toSeq.toString)
    assert(new java.io.File(s"$genAfter/data").isDirectory &&
      new java.io.File(s"$genAfter/centroids").isDirectory)
  }

  test("dup evidence: rarest shared tokens in rank order, pair-scoped only") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "zebra apple tree house common common2"),
      (2L, "zebra apple tree house common common2 extra"),
      (3L, "apple common common2 unrelated words here"),
      (4L, "common common2 other things entirely present")
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val out = Dedup.explainPairs(corpus, pairs, "doc_id", "text", n = 1, top = 3)
      .collect()
    assert(out.length == 1) // only the given pair, never all-pairs
    val r = out.head
    assert(r.getLong(2) == 3, r.toString)
    // rarity order: zebra (df 2), house (df 2), tree (df 2) ... ties break
    // lexicographically among df-2 tokens {house, tree, zebra}
    assert(r.getString(3) == "house | tree | zebra", r.toString)
  }

  test("contamination matrix: per-(benchmark, n) counts, zero rows present") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "a b c d e"), (2L, "x y z w v"), (3L, "p q r")
    ).toDF("doc_id", "text")
    val bench = Seq(
      ("b1", "c d e f g"), ("b2", "no overlap here at all")
    ).toDF("benchmark", "text")
    val out = Decontaminate.contaminationMatrix(
        corpus, "doc_id", "text", bench, "benchmark", "text", Seq(2, 3))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // b1 shares "c d"/"d e" (n=2) and "c d e" (n=3) with doc 1 only
    assert(out(("b1", 2L)) == ((1L, 3L, 3333L)), out.toString)
    assert(out(("b1", 3L)) == ((1L, 3L, 3333L)), out.toString)
    // b2 hits nothing — rows still present at zero
    assert(out(("b2", 2L)) == ((0L, 3L, 0L)), out.toString)
    assert(out(("b2", 3L)) == ((0L, 3L, 0L)), out.toString)
    assert(out.size == 4)
  }

  test("binary AUC: exact tie-aware Mann-Whitney from the histogram") {
    import spark.implicits._
    // pos scores {3, 2}, neg {1, 2}: U = 1+1+1+0.5 = 3.5 -> AUC 0.875
    val df = Seq((3L, true), (2L, true), (1L, false), (2L, false))
      .toDF("s", "y")
    val r = Eval.binaryAuc(df, col("s"), col("y")).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((2L, 2L, 7L, 8750L)), r.toString)
    // perfect separation -> 10000 bp; reversed -> 0
    val perfect = Seq((5L, true), (4L, true), (1L, false)).toDF("s", "y")
    assert(Eval.binaryAuc(perfect, col("s"), col("y")).head().getLong(3) == 10000L)
    val reversed = Seq((1L, true), (5L, false)).toDF("s", "y")
    assert(Eval.binaryAuc(reversed, col("s"), col("y")).head().getLong(3) == 0L)
    // degenerate single-class input -> null auc, counts still reported
    val oneClass = Seq((1L, true), (2L, true)).toDF("s", "y")
    val d = Eval.binaryAuc(oneClass, col("s"), col("y")).head()
    assert(d.getLong(0) == 2L && d.getLong(1) == 0L && d.isNullAt(3), d.toString)
  }

  test("epoch allocation: cap binds, surplus redistributes, budget conserved") {
    import spark.implicits._
    val perKey = Seq(("A", 100L, 3L), ("B", 1000L, 1L))
      .toDF("source", "n_tokens", "w")
    val out = Mixing.epochAllocation(
        perKey, "source", "n_tokens", col("w"),
        budget = 600L, maxEpochsBp = 20000)
      .collect().map(r => r.getString(0) ->
        (r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // A: target 450 capped at 2.0 epochs = 200; B: target 150 + all 250
    // surplus (sole headroom key) = 400 -> 0.4 epochs
    assert(out("A") == ((450L, 200L, 20000L)), out.toString)
    assert(out("B") == ((150L, 400L, 4000L)), out.toString)
    assert(out.values.map(_._2).sum == 600L) // conservation after one round
  }

  test("interleaved order: round-robin residues per source, md5 order within") {
    import spark.implicits._
    val df = Seq((1L, "A"), (2L, "A"), (3L, "A"), (10L, "B"), (20L, "B"))
      .toDF("doc_id", "source")
    val out = Sharding.interleaved(df, "doc_id", "source", ":il")
      .select(col("doc_id"), col("source"), col("interleave_seq"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.length == 5 && out.map(_._3).distinct.length == 5)
    // residue mod n_sources identifies the source (A=0, B=1 by name order)
    assert(out.filter(_._2 == "A").forall(_._3 % 2 == 0), out.mkString(","))
    assert(out.filter(_._2 == "B").forall(_._3 % 2 == 1), out.mkString(","))
    // within a source, seq order == md5(salt||id) order (the shuffle draw)
    val key = (id: Long) => java.security.MessageDigest.getInstance("MD5")
      .digest(s":il$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
    for (src <- Seq("A", "B")) {
      val got = out.filter(_._2 == src).sortBy(_._3).map(_._1).toSeq
      val want = out.filter(_._2 == src).map(_._1).sortBy(key).toSeq
      assert(got == want, s"$src: $got vs $want")
    }
    // ranks are dense within source: A occupies 0,2,4 and B 1,3
    assert(out.filter(_._2 == "A").map(_._3).sorted.toSeq == Seq(0L, 2L, 4L))
    assert(out.filter(_._2 == "B").map(_._3).sorted.toSeq == Seq(1L, 3L))
  }

  test("span excision: covered windows removed, case-insensitive, doc kept") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "x A B C y"),      // bench 3-gram "a b c" covers tokens 1..3
      (2L, "clean doc here"), // untouched
      (3L, "a b c d"),        // overlapping matches cover everything
      (4L, "a b")             // shorter than n: never excised
    ).toDF("doc_id", "text")
    val bench = Seq(Tuple1("a b c d")).toDF("text")
    val out = Decontaminate.exciseSpans(
        corpus, "doc_id", "text", bench, "text", n = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == (("x y", 5L, 3L)), out.toString)   // original case kept
    assert(out(2L) == (("clean doc here", 3L, 0L)), out.toString)
    assert(out(3L) == (("", 4L, 4L)), out.toString)      // fully excised
    assert(out(4L) == (("a b", 2L, 0L)), out.toString)   // too short to match
    assert(out.size == 4)
  }

  test("URL canonicalization: known-answer rule matrix") {
    import spark.implicits._
    val urls = Seq(
      // case + www + default port + fragment + tracking param
      (1L, "HTTP://WWW.Example.COM:80/a/b/?utm_source=x&z=1&a=2#frag"),
      // https default port, param sort, trailing slash on short path
      (2L, "https://sub.Example.co.uk:443/p/?z=1&a=2"),
      // NON-default port survives; no query; root path from empty
      (3L, "http://example.com:8080"),
      // all params are tracking → no '?'; www kept mid-host only if leading
      (4L, "https://www.news.org/x?fbclid=abc&gclid=1&ref=z"),
      // no variants at all: already canonical
      (5L, "https://plain.net/ok?a=1"),
      // single-label host (routine in real corpora): its own domain —
      // must not throw under ANSI (slice start 0 / element_at -2)
      (6L, "http://localhost:8080/page"),
      // malformed: no scheme → empty host/scheme; must not throw either
      (7L, "not a url at all"))
      .toDF("id", "url")
    val got = UrlCanon.canonicalize(urls, "url")
      .select("id", "url_canonical", "url_domain", "url_host", "url_path")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2), r.getString(3), r.getString(4))))
      .toMap
    assert(got(1L) == (("http://example.com/a/b?a=2&z=1", "example.com",
      "example.com", "/a/b")), got(1L).toString)
    assert(got(2L) == (("https://sub.example.co.uk/p?a=2&z=1",
      "example.co.uk", "sub.example.co.uk", "/p")), got(2L).toString)
    assert(got(3L) == (("http://example.com:8080/", "example.com",
      "example.com", "/")), got(3L).toString)
    assert(got(4L) == (("https://news.org/x", "news.org", "news.org",
      "/x")), got(4L).toString)
    assert(got(5L) == (("https://plain.net/ok?a=1", "plain.net",
      "plain.net", "/ok")), got(5L).toString)
    assert(got(6L) == (("http://localhost:8080/page", "localhost",
      "localhost", "/page")), got(6L).toString)
    assert(got(7L) == ((":///", "", "", "/")), got(7L).toString)
  }

  // cdcChunks — the brute-force CdcParagraphs reference — now lives in
  // SparkSpec (hoisted round 9: PropertySpec's randomized paragraph-family
  // tests share it; any chunking-rule change still lands in ONE place).

  // Deterministic sentence generator over a small vocab, seeded per test.
  private def cdcSent(seed: Long): Int => String = {
    val vocab = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu".split(" ")
    val rnd = new scala.util.Random(seed)
    n => Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
  }

  test("CDC paragraph chunking + paragraph dedup: brute-force reference") {
    import spark.implicits._
    val g = 4
    val chunks = cdcChunks(g) _
    // doc 2 embeds doc 1's passage at a DIFFERENT offset — the case
    // fixed-size positional windows miss and content-defined chunking
    // must catch
    val sent = cdcSent(99)
    val passage = sent(30)
    val rows = Seq(
      (1L, "s1", sent(17) + " " + passage + " " + sent(5)),
      (2L, "s2", sent(9) + " " + passage + " " + sent(11)),
      (3L, "s1", sent(25)))
    val docs = rows.toDF("doc_id", "source", "text")
    // (a) chunking matches the independent reference
    val got = docs
      .select(col("doc_id"), graft.functions.CdcParagraphs(col("text"), g).as("ps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    for ((id, _, t) <- rows)
      assert(got(id) == chunks(t), s"doc $id chunking diverged")
    // (b) the shifted copy still shares interior paragraphs
    val shared = got(1L).toSet.intersect(got(2L).toSet)
    assert(shared.nonEmpty, "content-defined chunking found no shared paragraph")
    // (c) the rollup equals brute force
    val paras = rows.flatMap { case (id, s, t) =>
      chunks(t).zipWithIndex.map { case (p, i) => (id, s, i, p) } }
    val firstOf = paras.groupBy(_._4).map { case (p, rs) =>
      p -> rs.map(r => (r._1, r._3)).min }
    def isDup(r: (Long, String, Int, String)) = firstOf(r._4) != ((r._1, r._3))
    val want = paras.groupBy(_._2).toSeq.map { case (s, rs) =>
      val dupToks = rs.filter(isDup).map(_._4.split(" ").length.toLong).sum
      val allToks = rs.map(_._4.split(" ").length.toLong).sum
      s -> ((rs.size.toLong, allToks,
        rs.count(isDup).toLong, dupToks,
        rs.filter(isDup).map(_._1).distinct.size.toLong,
        math.floor(dupToks * 10000.0 / allToks).toLong))
    }.toMap
    val gotR = Dedup.paragraphDedup(docs, "doc_id", "text", "source", g)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6)))).toMap
    assert(gotR == want, s"got=$gotR want=$want")
    // (d) the clean rebuild excises exactly the duplicate occurrences
    val wantClean = rows.map { case (id, _, t) =>
      val cs = chunks(t).zipWithIndex
      id -> ((cs.collect { case (p, i) if firstOf(p) == ((id, i)) => p }
        .mkString(" "), cs.size.toLong, cs.count { case (p, i) =>
          firstOf(p) != ((id, i)) }.toLong))
    }.toMap
    val gotClean = Dedup.paragraphDedupClean(docs, "doc_id", "text", g)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(gotClean == wantClean, s"got=$gotClean want=$wantClean")
    // doc 1 (the original) must be untouched; doc 2 must have lost the
    // shared interior paragraphs
    assert(gotClean(1L)._1 == rows.head._3)
    assert(gotClean(2L)._3 >= shared.size - 2, // boundary paragraphs may differ
      s"${gotClean(2L)._3} vs ${shared.size}")
    // (e) NULL-text docs are OMITTED from the rebuild (the oracle's token
    // unnest yields no rows for NULL; a surviving left-join row would emit
    // nonsense size(NULL) counts) — same contract for templateStrip,
    // which shares the rebuild kernel
    val withNull = (docs.select($"doc_id", $"text") union
      Seq((9L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val cleanIds = Dedup.paragraphDedupClean(withNull, "doc_id", "text", g)
      .collect().map(_.getLong(0)).toSet
    assert(cleanIds == Set(1L, 2L, 3L), s"null-text doc leaked: $cleanIds")
  }

  test("domain boilerplate: within- vs cross-domain duplicate paragraphs") {
    import spark.implicits._
    val g = 4
    val chunks = cdcChunks(g) _
    val sent = cdcSent(4242)
    val template = sent(24) // a.com's nav/footer block, on both its pages
    val rows = Seq(
      (1L, "https://a.com/p1", template + " " + sent(9)),
      (2L, "https://a.com/p2", sent(7) + " " + template),
      (3L, "https://b.net/p1", sent(5) + " " + template + " " + sent(4)),
      (4L, "https://b.net/p2", sent(21)))
    val docs = rows.toDF("doc_id", "url", "text")
    def dom(u: String) = { // hosts here are 2-label: fallback keeps them
      u.stripPrefix("https://").takeWhile(_ != '/')
    }
    val paras = rows.flatMap { case (id, u, t) =>
      chunks(t).zipWithIndex.map { case (p, i) => (id, dom(u), i, p) } }
    val firstOcc = paras.groupBy(_._4).map { case (p, rs) =>
      p -> rs.minBy(r => (r._1, r._3)) }
    val want = paras.groupBy(_._2).toSeq.map { case (d, rs) =>
      def isDup(r: (Long, String, Int, String)) =
        (firstOcc(r._4)._1, firstOcc(r._4)._3) != ((r._1, r._3))
      def isWithin(r: (Long, String, Int, String)) =
        isDup(r) && firstOcc(r._4)._2 == r._2
      val withinToks = rs.filter(isWithin).map(_._4.split(" ").length.toLong).sum
      val allToks = rs.map(_._4.split(" ").length.toLong).sum
      d -> ((rs.map(_._1).distinct.size.toLong, rs.size.toLong, allToks,
        rs.count(isDup).toLong, rs.count(isWithin).toLong,
        rs.count(r => isDup(r) && !isWithin(r)).toLong, withinToks,
        math.floor(withinToks * 10000.0 / allToks).toLong))
    }.toMap
    val got = DomainStats.domainBoilerplate(docs, "url", "doc_id", "text", g)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8)))).toMap
    assert(got == want, s"got=$got want=$want")
    // a.com's second copy of the template is WITHIN-domain mass; b.net's
    // copy is CROSS-domain (first occurrence lives on a.com)
    assert(got("a.com")._5 > 0, s"a.com within: ${got("a.com")}")
    assert(got("b.net")._6 > 0, s"b.net cross: ${got("b.net")}")
    assert(got("b.net")._5 == 0, s"b.net within should be 0: ${got("b.net")}")
  }

  test("template catalog + strip: drop-all within-domain, brute-force") {
    import spark.implicits._
    val g = 4
    val chunks = cdcChunks(g) _
    val sent = cdcSent(777)
    val footer = sent(20) // on ALL THREE a.com pages -> template at minDocs=3
    val promo = sent(16)  // on only TWO a.com pages -> below threshold, kept
    val rows = Seq(
      (1L, "https://a.com/p1", footer + " " + sent(9) + " " + promo),
      (2L, "https://a.com/p2", sent(7) + " " + footer),
      (3L, "https://a.com/p3", promo + " " + footer + " " + sent(5)),
      // b.net syndicates the footer: cross-domain, must NOT be stripped
      (4L, "https://b.net/p1", sent(4) + " " + footer))
    val docs = rows.toDF("doc_id", "url", "text")
    def dom(u: String) = u.stripPrefix("https://").takeWhile(_ != '/')
    val paras = rows.flatMap { case (id, u, t) =>
      chunks(t).zipWithIndex.map { case (p, i) => (id, dom(u), i, p) } }
    // brute-force template keys: (domain, para) in >= 3 distinct docs
    val tmpl = paras.groupBy(r => (r._2, r._4))
      .filter(_._2.map(_._1).distinct.size >= 3).keySet
    val wantCat = paras.groupBy(r => (r._2, r._4))
      .filter { case (k, _) => tmpl(k) }
      .map { case ((d, p), rs) =>
        (d, p) -> ((rs.map(_._1).distinct.size.toLong, rs.size.toLong,
          rs.map(_._4.split(" ").length.toLong).sum)) }
    val gotCat = DomainStats.templateCatalog(docs, "url", "doc_id", "text",
        minDocs = 3, grain = g)
      .collect().map(r => (r.getString(0), r.getString(2)) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(gotCat == wantCat, s"got=$gotCat want=$wantCat")
    assert(gotCat.nonEmpty, "catalog found no template")
    // the footer must be catalogued for a.com only (b.net has 1 doc)
    assert(gotCat.keySet.map(_._1) == Set("a.com"))
    // strip: drop ALL template occurrences, keep everything else
    val wantStrip = rows.map { case (id, u, t) =>
      val cs = chunks(t)
      val kept = cs.filter(p => !tmpl((dom(u), p)))
      id -> ((kept.mkString(" "), cs.size.toLong,
        (cs.size - kept.size).toLong))
    }.toMap
    val gotStrip = DomainStats.templateStrip(docs, "url", "doc_id", "text",
        minDocs = 3, grain = g)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(gotStrip == wantStrip, s"got=$gotStrip want=$wantStrip")
    // drop-ALL vs keep-first: doc 1 (the footer's FIRST occurrence) must
    // also lose it — the rule that separates strip from q309 dedup
    assert(!gotStrip(1L)._1.contains(footer), "first occurrence survived")
    // the 2-doc promo paragraph stays below threshold -> kept everywhere
    assert(gotStrip(1L)._1.contains(promo) && gotStrip(3L)._1.contains(promo),
      "sub-threshold paragraph was stripped")
    // b.net's syndicated copy is cross-domain -> untouched
    assert(gotStrip(4L)._3 == 0L, s"b.net stripped: ${gotStrip(4L)}")
  }

  test("incremental template strip: combined corpus+batch reach, brute-force") {
    import spark.implicits._
    val g = 4
    val chunks = cdcChunks(g) _
    val sent = cdcSent(31337)
    val footer = sent(20) // in all 3 corpus docs -> template before the batch
    val promo = sent(16)  // in 2 corpus docs -> tips over WITH the batch copy
    val corpus = Seq(
      (1L, "https://a.com/c1", promo + " " + footer + " " + sent(6)),
      (2L, "https://a.com/c2", promo + " " + sent(8) + " " + footer),
      (3L, "https://a.com/c3", footer))
    val batch = Seq(
      (101L, "https://a.com/b1", promo + " " + sent(5)), // promo now 2+1=3
      (102L, "https://a.com/b2", footer + " " + sent(7)),
      (103L, "https://b.net/b1", promo)) // b.net count 1: untouched
    val corpusDf = corpus.toDF("doc_id", "url", "text")
    val batchDf = batch.toDF("doc_id", "url", "text")
    def dom(u: String) = u.stripPrefix("https://").takeWhile(_ != '/')
    // brute force: per-(domain, chunk) distinct-doc counts over
    // corpus UNION batch (ids disjoint), template at >= 3, strip batch
    val cParas = corpus.flatMap { case (id, u, t) =>
      chunks(t).map(p => (dom(u), p, id)) }
    val bParas = batch.flatMap { case (id, u, t) =>
      chunks(t).zipWithIndex.map { case (p, i) => (dom(u), p, id, i) } }
    val combined = (cParas.map(r => (r._1, r._2) -> r._3) ++
      bParas.map(r => (r._1, r._2) -> r._3))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).distinct.size }
    val tpl = combined.filter(_._2 >= 3).keySet
    val want = batch.map { case (id, u, t) =>
      val cs = chunks(t)
      val kept = cs.filter(p => !tpl((dom(u), p)))
      id -> ((kept.mkString(" "), cs.size.toLong,
        (cs.size - kept.size).toLong))
    }.toMap
    val index = DomainStats.templateIndex(corpusDf, "url", "doc_id", "text", g)
    val got = DomainStats.templateStripIncremental(
        index, batchDf, "url", "doc_id", "text", minDocs = 3, grain = g)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == want, s"got=$got want=$want")
    // the incremental tipping case: promo had only 2 corpus copies — the
    // batch copy itself pushes it to 3, and it strips from THAT batch doc
    assert(got(101L)._3 >= 1L, s"tipping paragraph survived: ${got(101L)}")
    // the pre-existing corpus template strips from its batch occurrence
    assert(got(102L)._3 >= 1L, s"corpus template survived: ${got(102L)}")
    // cross-domain: b.net's lone promo copy is NOT stripped by a.com counts
    assert(got(103L)._3 == 0L, s"cross-domain stripped: ${got(103L)}")
    // index is compact state: (domain, ph, n_docs) rows, counts by brute force
    val idxGot = index.collect().map(r =>
      (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val idxWant = cParas.groupBy(r => (r._1, r._2))
      .map { case ((d, p), rs) =>
        val md = java.security.MessageDigest.getInstance("MD5")
        (d, md.digest(p.getBytes("UTF-8")).map("%02x".format(_)).mkString) ->
          rs.map(_._3).distinct.size.toLong }
    assert(idxGot == idxWant, s"index mismatch: got=$idxGot")
    // append-style maintenance: an index built as two appended
    // generations (duplicate (domain, ph) rows whose counts ADD) must
    // strip identically to the merged one — the documented contract
    val appendIdx = DomainStats.templateIndex(
        corpusDf.filter($"doc_id" <= 2), "url", "doc_id", "text", g)
      .unionAll(DomainStats.templateIndex(
        corpusDf.filter($"doc_id" === 3), "url", "doc_id", "text", g))
    val gotAppend = DomainStats.templateStripIncremental(
        appendIdx, batchDf, "url", "doc_id", "text", minDocs = 3, grain = g)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(gotAppend == want, s"append-index drift: got=$gotAppend")
  }

  test("fuzzy template catalog: near-dup variants cluster, brute-force") {
    import spark.implicits._
    val g = 16
    def md5b0(tok: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(tok.getBytes("UTF-8"))(0) & 0xff
    }
    // curated vocab: NON-boundary tokens at grain 16, so each handcrafted
    // text is ONE CDC chunk and pair Jaccard is controlled exactly; `bt`
    // is a deliberate boundary token for the multi-paragraph case
    val pool = (0 until 200).map(i => s"tok$i").filter(md5b0(_) % g != 0)
    val bt = (0 until 200).map(i => s"tok$i").find(md5b0(_) % g == 0).get
    val base = pool.take(12)
    val v1 = base.mkString(" ")
    val v2 = base.updated(3, pool(50)).mkString(" ")  // J(v1,v2)=11/13>=0.8
    val v3 = base.updated(7, pool(51)).mkString(" ")  // J(v1,v3)=11/13; J(v2,v3)=10/14<0.8
    val far = (base.take(8) ++ pool.slice(60, 64)).mkString(" ") // J=8/16<0.8
    val rows = Seq(
      (1L, "https://a.com/p1", v1),
      (2L, "https://a.com/p2", v2),
      (3L, "https://a.com/p3", v3),           // transitively joins via v1
      (4L, "https://a.com/p4", far),          // below threshold: own singleton
      (5L, "https://b.net/p1", v1),           // cross-domain verbatim: not merged
      (6L, "https://a.com/p5", v1),           // exact dup of p1's paragraph
      (7L, "https://a.com/p6", v2 + " " + bt + " " + v1)) // two chunks
    val docs = rows.toDF("doc_id", "url", "text")
    def dom(u: String) = u.stripPrefix("https://").takeWhile(_ != '/')
    def md5hex(s: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    // brute force: chunk, then ALL-PAIRS token-set Jaccard within domain,
    // union-find, report clusters with >=2 variants spanning >=2 docs
    val paras = rows.flatMap { case (id, u, t) =>
      cdcChunks(g)(t).map(p => (dom(u), p, id)) }
    val verts = paras.map(r => (r._1, r._2)).distinct
    val parent = scala.collection.mutable.Map(verts.map(v => v -> v): _*)
    def find(v: (String, String)): (String, String) =
      if (parent(v) == v) v else { val r = find(parent(v)); parent(v) = r; r }
    for {
      Seq(a, b) <- verts.combinations(2) if a._1 == b._1
      sa = a._2.split(" ").toSet; sb = b._2.split(" ").toSet
      if 5 * sa.intersect(sb).size >= 4 * sa.union(sb).size
    } { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb }
    val comps = verts.groupBy(find)
    val want = comps.values.filter(_.size >= 2).flatMap { vs =>
      val domain = vs.head._1
      val occs = paras.filter(p => vs.contains((p._1, p._2)))
      val nDocs = occs.map(_._3).distinct.size
      if (nDocs >= 2)
        Some((domain, vs.map(p => md5hex(p._2)).min) ->
          ((vs.map(_._2).min, vs.size.toLong, nDocs.toLong,
            occs.size.toLong,
            occs.map(_._2.split(" ").length.toLong).sum)))
      else None
    }.toMap
    val got = DomainStats.fuzzyTemplateCatalog(docs, "url", "doc_id", "text",
        minDocs = 2, grain = g, shingleK = 1)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6)))).toMap
    assert(got == want, s"got=$got want=$want")
    // one a.com cluster: v1+v2+v3 variants plus p6's (v2 bt) chunk joins
    // through v2 (J=12/13); p6's second chunk is v1 verbatim
    assert(got.nonEmpty, "no fuzzy cluster found")
    val acom = got.filter(_._1._1 == "a.com")
    assert(acom.size == 1, s"expected one a.com cluster: $acom")
    val (_, (_, nVar, nDocs, nOcc, _)) = acom.head
    assert(nVar == 4L, s"variants: $nVar") // v1, v2, v3, v2+bt
    assert(nDocs == 5L, s"docs: $nDocs")   // p1, p2, p3, p5(dup), p6
    assert(nOcc == 6L, s"occs: $nOcc")     // p6 contributes two occurrences
    // far (p4) below threshold and b.net's lone verbatim copy: unreported
    assert(!got.keySet.exists(_._1 == "b.net"), "cross-domain merged")

    // domainFuzzyBoilerplate on the same corpus: exact templates (>= 2
    // distinct docs per (domain, para)) vs the ADDITIONAL mass the fuzzy
    // clusters surface (member occurrences not already exact)
    val exactKeys = paras.groupBy(r => (r._1, r._2))
      .filter(_._2.map(_._3).distinct.size >= 2).keySet
    val fuzzyKeys = comps.values.filter { vs =>
      vs.size >= 2 &&
      paras.filter(p => vs.contains((p._1, p._2))).map(_._3).distinct.size >= 2
    }.flatten.toSet
    val wantRate = paras.groupBy(_._1).map { case (d, rs) =>
      val tok = (p: (String, String, Long)) => p._2.split(" ").length.toLong
      val ex = rs.filter(p => exactKeys((p._1, p._2))).map(tok).sum
      val fz = rs.filter(p => !exactKeys((p._1, p._2)) &&
        fuzzyKeys((p._1, p._2))).map(tok).sum
      val tot = rs.map(tok).sum
      d -> ((rs.size.toLong, tot, ex, fz,
        math.floor((ex + fz) * 10000.0 / tot).toLong))
    }
    val gotRate = DomainStats.domainFuzzyBoilerplate(docs, "url", "doc_id",
        "text", minDocs = 2, grain = g, shingleK = 1)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    assert(gotRate == wantRate, s"got=$gotRate want=$wantRate")
    // pin the split concretely: v1 (3 docs) is EXACT mass 36; v2/v3/v2+bt
    // are fuzzy-extra 37; far is neither; b.net's lone copy scores 0
    assert(gotRate("a.com") == ((7L, 85L, 36L, 37L, 8588L)),
      gotRate("a.com").toString)
    assert(gotRate("b.net")._5 == 0L, gotRate("b.net").toString)

    // fuzzyTemplateStrip: drop ALL occurrences of exact ∪ fuzzy keys
    val allKeys = exactKeys ++ fuzzyKeys
    val wantStrip = rows.map { case (id, u, t) =>
      val cs = cdcChunks(g)(t)
      val kept = cs.filter(p => !allKeys((dom(u), p)))
      id -> ((kept.mkString(" "), cs.size.toLong,
        (cs.size - kept.size).toLong))
    }.toMap
    val gotStrip = DomainStats.fuzzyTemplateStrip(docs, "url", "doc_id",
        "text", minDocs = 2, grain = g, shingleK = 1)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(gotStrip == wantStrip, s"got=$gotStrip want=$wantStrip")
    // v2 is fuzzy-ONLY (1-doc exact count) and must still be stripped —
    // the capability exact template stripping lacks
    assert(gotStrip(2L)._3 == 1L, gotStrip(2L).toString)
    // far stays; b.net's lone copy stays (cross-domain isolation)
    assert(gotStrip(4L)._3 == 0L, gotStrip(4L).toString)
    assert(gotStrip(5L)._3 == 0L, gotStrip(5L).toString)
  }

  test("PSL registered domain: exact, wildcard, exception, fallback") {
    import spark.implicits._
    val hosts = Seq(
      // private-section exact rule: github.io is the public suffix
      (1L, "foo.github.io"), (2L, "bar.foo.github.io"),
      // a host that IS a public suffix returns itself
      (3L, "github.io"),
      // ICANN 2-label rule (the ne.jp class the heuristic missed)
      (4L, "a.b.ne.jp"), (5L, "site.ne.jp"),
      // heuristic-era case must be unchanged (co.uk is also a PSL rule)
      (6L, "sub.example.co.uk"),
      // wildcard *.ck: any b.ck is a public suffix
      (7L, "a.b.ck"), (8L, "foo.ck"),
      // exception !www.ck beats the wildcard
      (9L, "www.ck"), (10L, "a.www.ck"),
      // 3-label exact rules
      (11L, "bucket.s3.amazonaws.com"), (12L, "myblog.blogspot.co.uk"),
      // 3-label wildcard *.compute.amazonaws.com
      (13L, "vm1.compute.amazonaws.com"),
      (14L, "x.vm1.compute.amazonaws.com"),
      // *.elb.amazonaws.com: each region zone is the public suffix
      (19L, "lb.eu-west-1.elb.amazonaws.com"),
      // unknown TLD → fallback heuristic
      (15L, "a.b.zz"), (16L, "a.co.zz"),
      // degenerate hosts
      (17L, "localhost"), (18L, ""))
      .toDF("id", "host")
    val got = hosts
      .select(col("id"), Psl.registeredDomainOfHost(col("host")).as("d"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = Map(
      1L -> "foo.github.io", 2L -> "foo.github.io", 3L -> "github.io",
      4L -> "b.ne.jp", 5L -> "site.ne.jp",
      6L -> "example.co.uk",
      7L -> "a.b.ck", 8L -> "foo.ck",
      9L -> "www.ck", 10L -> "www.ck",
      11L -> "bucket.s3.amazonaws.com",
      12L -> "myblog.blogspot.co.uk",
      13L -> "vm1.compute.amazonaws.com",
      14L -> "x.vm1.compute.amazonaws.com",
      19L -> "lb.eu-west-1.elb.amazonaws.com",
      15L -> "b.zz", 16L -> "a.co.zz",
      17L -> "localhost", 18L -> "")
    for ((k, v) <- want) assert(got(k) == v, s"host id $k: got ${got(k)}, want $v")
    // through the URL path: www-strip then PSL
    val viaUrl = Seq(Tuple1("https://www.pages.octo.github.io/x?a=1"))
      .toDF("url")
      .select(UrlCanon.registeredDomain(col("url")).as("d"))
      .head().getString(0)
    assert(viaUrl == "octo.github.io", viaUrl)
  }

  test("URL dedup + domain cap: keeper ids, variant counts, cap selection") {
    import spark.implicits._
    // ids 1,2,3 are one page (case/port/tracking variants); 4 another page
    // on the same domain; 5..8 four distinct pages on a second domain
    val urls = Seq(
      (1L, "http://a.com/x?b=2&a=1"),
      (2L, "HTTP://WWW.A.com:80/x/?a=1&utm_medium=m&b=2"),
      (3L, "http://a.com/x?a=1&b=2#f"),
      (4L, "http://a.com/y"),
      (5L, "http://b.com/1"), (6L, "http://b.com/2"),
      (7L, "http://b.com/3"), (8L, "http://b.com/4"))
      .toDF("id", "url")
    val dd = UrlCanon.dedupByUrl(urls, "url", "id")
      .collect().map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(dd("http://a.com/x?a=1&b=2") == ((1L, 3L)), dd.toString)
    assert(dd("http://a.com/y") == ((4L, 1L)), dd.toString)
    assert(dd.size == 6)
    val capped = UrlCanon.domainCap(urls, "url", "id", cap = 3)
      .select("url_domain", "keeper_id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // a.com has 2 unique pages (both kept); b.com's cap keeps the 3
    // lowest keeper ids of its 4 pages
    assert(capped == Set(("a.com", 1L), ("a.com", 4L),
      ("b.com", 5L), ("b.com", 6L), ("b.com", 7L)), capped.toString)
  }

  test("tokenizer fertility: brute-force reference on a tiny corpus") {
    import spark.implicits._
    val corpus = Seq(
      ("en", "aa aa aa bb"),     // aa in-vocab(top2), bb OOV len 2
      ("en", "aa ccc"),          // ccc OOV len 3
      ("de", "aa dddd"))         // dddd OOV len 4
      .toDF("lang", "text")
    // vocabSize=2 → vocab by (count desc, token asc): aa(5), bb(1) ties
    // with ccc/dddd broken ascending → bb
    val got = TokenizerAudit.fertilityByLang(corpus, "text", "lang", 2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    // en: 6 words; subwords = aa*4=4 + bb(in-vocab)=1 + ccc=3 → 8;
    //     chars = 2*4+2+3 = 13 → fertility 8000/6=1333, chars/token
    //     13000/8=1625
    assert(got("en") == ((2L, 6L, 8L, 1333L, 1625L)), got.toString)
    // de: 2 words; subwords = aa=1 + dddd=4 → 5; chars 6 → 2500, 1200
    assert(got("de") == ((1L, 2L, 5L, 2500L, 1200L)), got.toString)
  }

  test("domain quality rollup: known-answer keep/drop matrix") {
    import spark.implicits._
    val docs = Seq(
      (1L, "http://a.com/1", "w w w w"),     // 4 tokens — not low
      (2L, "http://a.com/2", "w w w w w"),   // 5 tokens
      (3L, "http://b.com/1", "w"),           // 1 token — low
      (4L, "http://b.com/2", "x y"),         // 2 — low
      (5L, "http://b.com/3", "x y z q u"))   // 5
      .toDF("doc_id", "url", "text")
    val got = DomainStats.qualityRollup(docs, "url", "text",
        minTokens = 4, maxLowBp = 5000)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6)))).toMap
    // a.com: 2 docs, 9 tokens, 0 low → avg 4500, low_bp 0, kept
    assert(got("a.com") == ((2L, 9L, 0L, 4500L, 0L, 1L)), got.toString)
    // b.com: 3 docs, 8 tokens, 2 low → avg 2666, low_bp 6666, dropped
    assert(got("b.com") == ((3L, 8L, 2L, 2666L, 6666L, 0L)), got.toString)
  }

  test("domain split: independent md5 replay + leak accounting") {
    import spark.implicits._
    // md5SplitLabel = the SparkSpec MessageDigest replay (not Spark
    // expressions) — the spec fails if either side drifts
    def label(s: String) = md5SplitLabel(s)
    val docs = Seq(
      (1L, "http://a.com/1", "w w"), (2L, "http://a.com/2", "w"),
      (3L, "http://b.com/1", "x y z"), (4L, "http://c.net/1", "p q"),
      (5L, "http://c.net/2", "p"))
      .toDF("doc_id", "url", "text")
    val rows = DomainStats.domainSplit(docs, "url", "doc_id", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // brute-force expected report from the replayed labels
    val input = Seq((1L, "a.com", 2L), (2L, "a.com", 1L), (3L, "b.com", 3L),
      (4L, "c.net", 2L), (5L, "c.net", 1L))
    val expect = input
      .map { case (id, dom, ntok) =>
        (label(dom), dom, ntok,
          if (label(id.toString) != label(dom)) 1L else 0L) }
      .groupBy(_._1)
      .map { case (sp, rs) => sp -> ((rs.map(_._2).distinct.size.toLong,
        rs.size.toLong, rs.map(_._3).sum, rs.map(_._4).sum)) }
    assert(rows == expect, s"got $rows expected $expect")
    // a domain's docs are never split apart (the operator's contract)
    assert(rows.values.map(_._1).sum == 3L, rows.toString)
  }

  test("vocab growth: hand-computed Heaps curve, 2 buckets") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b"), (2L, "b c"),   // bucket 1: 4 tokens, new {a,b,c}
      (3L, "a d"), (4L, "d e f")) // bucket 2: 5 tokens, new {d,e,f}
      .toDF("doc_id", "text")
    val got = graft.pipeline.CorpusStats.vocabGrowth(docs, "doc_id", "text", 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got(1L) == ((2L, 4L, 3L, 7500L)), got.toString)
    assert(got(2L) == ((4L, 9L, 6L, 6666L)), got.toString)
  }

  test("zipf spectrum: string-bit-length buckets, known answers") {
    import spark.implicits._
    val docs = Seq(
      Tuple1("a a a a a b b c"), Tuple1("c d")).toDF("text")
    val got = graft.pipeline.CorpusStats.zipfSpectrum(docs, "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getString(5)))).toMap
    assert(got(0L) == ((1L, 1L, 1L, 1L, "d")), got.toString)  // d: c=1
    assert(got(1L) == ((2L, 4L, 2L, 2L, "b")), got.toString)  // b,c: c=2
    assert(got(2L) == ((1L, 5L, 5L, 5L, "a")), got.toString)  // a: c=5
    assert(got.size == 3)
  }

  test("source TV distance: hand-computed on a 2-source corpus") {
    import spark.implicits._
    val docs = Seq(("A", "a a b"), ("B", "b c")).toDF("source", "text")
    val got = Drift.sourceTvDistance(docs, "source", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // N=5, c_a=2 c_b=2 c_c=1. A: |2·5−2·3|+|1·5−2·3|+absent(1·3)=8 →
    // TV=8/(2·3·5)=4/15 → 2666 bp. B: |1·5−2·2|+|1·5−1·2|+absent(2·2)=8 →
    // TV=8/20=0.4 → 4000 bp.
    assert(got("A") == ((3L, 8L, 2666L)), got.toString)
    assert(got("B") == ((2L, 8L, 4000L)), got.toString)
    // sanity: identical distribution ⇒ TV = 0
    val same = Seq(("X", "a b"), ("Y", "a b")).toDF("source", "text")
    val z = Drift.sourceTvDistance(same, "source", "text")
      .collect().map(_.getLong(3)).toSet
    assert(z == Set(0L), z.toString)
  }

  test("domain language coherence: Gini + majority share, known answers") {
    import spark.implicits._
    val docs = Seq(
      (1L, "http://a.com/1", "en"), (2L, "http://a.com/2", "en"),
      (3L, "http://a.com/3", "en"), (4L, "http://a.com/4", "fr"),
      (5L, "http://b.net/1", "en"), (6L, "http://b.net/2", "en"))
      .toDF("doc_id", "url", "lang")
    val got = DomainStats.langCoherence(docs, "url", "lang")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // a.com: n=4 {en:3, fr:1} → gini (16−10)/16 = 3750 bp, majority 7500
    assert(got("a.com") == ((4L, 2L, 3750L, 7500L)), got.toString)
    // b.net: single language → gini 0, majority 10000
    assert(got("b.net") == ((2L, 1L, 0L, 10000L)), got.toString)
  }

  test("soft dedup weights: 1/cluster_size, singletons untouched") {
    import spark.implicits._
    val corpus = (1L to 6L).map(i => (i, s"s${(i - 1) / 3}"))
      .toDF("doc_id", "source")
    // {1,2,3} one component (transitively), {5,6} another, 4 singleton
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val got = Dedup.softDedupWeights(corpus, "doc_id", pairs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == ((3L, 3333L)), got.toString)
    assert(got(2L) == ((3L, 3333L)), got.toString)
    assert(got(3L) == ((3L, 3333L)), got.toString)
    assert(got(4L) == ((1L, 10000L)), got.toString)
    assert(got(5L) == ((2L, 5000L)), got.toString)
    assert(got(6L) == ((2L, 5000L)), got.toString)
    // expected-copies property: Σ weights ≈ #clusters (up to the floor)
    val sums = got.values.map(_._2).sum
    assert(sums == 3333L * 3 + 10000L + 5000L * 2, sums.toString)
  }

  test("release diff: content-hash add/remove/keep + churn, known answers") {
    import spark.implicits._
    val old = Seq(("s1", "a"), ("s1", "b"), ("s2", "c"), ("s2", "c"))
      .toDF("source", "text")
    val neu = Seq(("s1", "b"), ("s1", "x"), ("s2", "c"), ("s3", "z"))
      .toDF("source", "text")
    val got = ReleaseDiff.contentDiff(old, neu, "source", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          if (r.isNullAt(5)) -1L else r.getLong(5)))).toMap
    // s1: {a,b}→{b,x}: +x −a =b → churn (1+1)/2 = 10000 bp
    assert(got("s1") == ((1L, 1L, 1L, 2L, 10000L)), got.toString)
    // s2: duplicate old text collapses; {c}→{c}: unchanged
    assert(got("s2") == ((0L, 0L, 1L, 1L, 0L)), got.toString)
    // s3: born in the new release: no old mass → churn NULL, not ∞
    assert(got("s3") == ((1L, 0L, 0L, 0L, -1L)), got.toString)
  }

  test("dedup mix shift: per-source kept share after keep-best") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "A", 10L), (2L, "B", 20L), // one cluster; B's copy is best
      (3L, "A", 5L), (4L, "B", 5L), (5L, "C", 5L)) // singletons
      .toDF("doc_id", "source", "n_chars")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val got = Dedup.dedupMixShift(corpus, "doc_id", pairs, col("n_chars"), "source")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got("A") == ((2L, 1L, 5000L)), got.toString)  // lost its copy
    assert(got("B") == ((2L, 2L, 10000L)), got.toString) // kept both
    assert(got("C") == ((1L, 1L, 10000L)), got.toString)
  }

  test("split leak audit: cross-boundary pair counts replay md5 labels") {
    import spark.implicits._
    def label(s: String) = md5SplitLabel(s)
    val doms = Map(1L -> "a.com", 2L -> "a.com", 3L -> "b.net", 4L -> "b.net")
    val docs = doms.toSeq.map { case (id, d) => (id, s"http://$d/p$id") }
      .toDF("doc_id", "url")
    val pairList = Seq((1L, 2L), (1L, 3L), (3L, 4L))
    val pairs = pairList.toDF("id_a", "id_b")
    val r = DomainStats.splitLeakAudit(docs, "url", "doc_id", pairs)
      .head()
    val expCrossDom = pairList.count { case (a, b) =>
      label(doms(a)) != label(doms(b)) }
    val expCrossDoc = pairList.count { case (a, b) =>
      label(a.toString) != label(b.toString) }
    assert(r.getLong(0) == 3L, r.toString)
    assert(r.getLong(1) == expCrossDom.toLong, r.toString)
    assert(r.getLong(2) == expCrossDoc.toLong, r.toString)
    // same-domain pairs can never cross the domain split (the contract):
    // only the (1,3) pair is even eligible
    assert(r.getLong(1) <= 1L, r.toString)
    assert(r.getLong(3) == math.floor(r.getLong(1) * 10000.0 / 3).toLong)
    assert(r.getLong(4) == math.floor(r.getLong(2) * 10000.0 / 3).toLong)
  }

  test("clean token stats: template strip THEN keep-first dedup, brute-force") {
    import spark.implicits._
    val g = 4
    val chunks = cdcChunks(g) _
    def md5b0(tok: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(tok.getBytes("UTF-8"))(0) & 0xff
    }
    // controlled chunking (the syndication test's device): pool tokens
    // never bound a chunk at grain 4, `bt` always does
    val pool = (0 until 200).map(i => s"w$i").filter(md5b0(_) % g != 0)
    val bt = (0 until 200).map(i => s"w$i").find(md5b0(_) % g == 0).get
    val footer = Seq(pool(6), pool(7), bt).mkString(" ") // 3 a.com docs ->
      // template, dropped EVERYWHERE
    val wire = Seq(pool(8), pool(9), bt).mkString(" ") // a.com + b.net ->
      // not a template; dedup keeps FIRST
    def filler(i: Int, n: Int) = pool.slice(i, i + n).mkString(" ")
    val rows = Seq(
      (1L, "https://a.com/p1", footer + " " + wire + " " + filler(20, 2)),
      (2L, "https://a.com/p2", filler(22, 2) + " " + bt + " " + footer),
      (3L, "https://a.com/p3", footer), // fully templated -> clean_tokens 0
      (4L, "https://b.net/p1", wire + " " + filler(24, 2)))
    val docs = rows.toDF("doc_id", "url", "text")
    def dom(u: String) = u.stripPrefix("https://").takeWhile(_ != '/')
    val paras = rows.flatMap { case (id, u, t) =>
      chunks(t).zipWithIndex.map { case (p, i) => (id, dom(u), i, p) } }
    val tmpl = paras.groupBy(r => (r._2, r._4))
      .filter(_._2.map(_._1).distinct.size >= 3).keySet
    val surv = paras.filter(r => !tmpl((r._2, r._4)))
    val firstOf = surv.groupBy(_._4).map { case (p, rs) =>
      p -> rs.map(r => (r._1, r._3)).min }
    val want = rows.map { case (id, u, t) =>
      val cs = chunks(t).zipWithIndex
      val nTpl = cs.count { case (p, _) => tmpl((dom(u), p)) }
      val kept = cs.filter { case (p, i) =>
        !tmpl((dom(u), p)) && firstOf(p) == ((id, i)) }
      val nDup = cs.size - nTpl - kept.size
      id -> ((dom(u), cs.size.toLong,
        kept.map(_._1.split(" ").length.toLong).sum, nTpl.toLong, nDup.toLong))
    }.toMap
    val got = DomainStats.cleanTokenStats(docs, "url", "doc_id", "text",
        minDocs = 3, grain = g)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got == want, s"got=$got want=$want")
    // the composition's three contracts in one fixture:
    // (a) drop-all: doc 1 holds the footer's FIRST occurrence and loses it
    assert(got(1L)._4 >= 1L, s"template survived in doc 1: ${got(1L)}")
    // (b) keep-first among SURVIVORS: doc 1 keeps the wire copy, doc 4
    //     (the later occurrence) loses it to dedup
    assert(got(4L)._5 >= 1L && got(1L)._5 == 0L,
      s"keep-first rank off: 1=${got(1L)} 4=${got(4L)}")
    // (c) fully-templated docs STAY, with zero clean mass (the domain
    //     rollup downstream must see them as thin, not lose them)
    assert(got(3L)._3 == 0L && got(3L)._4 >= 1L, s"doc 3: ${got(3L)}")
  }

  test("clean token stats v2: template > syndication > keep-first precedence") {
    import spark.implicits._
    val g = 4
    val chunks = cdcChunks(g) _
    def md5b0(tok: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(tok.getBytes("UTF-8"))(0) & 0xff
    }
    val pool = (0 until 200).map(i => s"w$i").filter(md5b0(_) % g != 0)
    val bt = (0 until 200).map(i => s"w$i").find(md5b0(_) % g == 0).get
    val footer = Seq(pool(30), pool(31), bt).mkString(" ") // a.com template
    val wire = Seq(pool(32), pool(33), bt).mkString(" ") // 3-domain synd, a.com origin
    val both = Seq(pool(34), pool(35), bt).mkString(" ") // template on a.com AND 3-domain synd
    val dupP = Seq(pool(36), pool(37), bt).mkString(" ") // plain 2-copy duplicate
    def filler(i: Int, n: Int) = pool.slice(i, i + n).mkString(" ")
    val rows = Seq(
      (1L, "https://a.com/p1", both + " " + wire + " " + dupP),
      (2L, "https://a.com/p2", footer + " " + both),
      (3L, "https://a.com/p3", footer + " " + both + " " + filler(40, 2)),
      (4L, "https://a.com/p4", footer), // fully excised -> stays, 0 mass
      (5L, "https://b.net/p1", wire + " " + both + " " + dupP),
      (6L, "https://c.org/p1", wire + " " + both))
    val docs = rows.toDF("doc_id", "url", "text")
    def dom(u: String) = u.stripPrefix("https://").takeWhile(_ != '/')
    val paras = rows.flatMap { case (id, u, t) =>
      chunks(t).zipWithIndex.map { case (p, i) => (id, dom(u), i, p) } }
    val tmpl = paras.groupBy(r => (r._2, r._4))
      .filter(_._2.map(_._1).distinct.size >= 3).keySet
    val synd = paras.groupBy(_._4)
      .filter(_._2.map(_._2).distinct.size >= 3).keySet
    val fdOf = paras.groupBy(_._4)
      .map { case (p, rs) => p -> rs.minBy(r => (r._1, r._3))._2 }
    // cls mirrors the operator: 0 template (outranks), -1 syndicated-in,
    // 1 survivor; keep-first rank over survivors only
    def cls(d: String, p: String) =
      if (tmpl((d, p))) 0
      else if (synd(p) && fdOf(p) != d) -1
      else 1
    val surv = paras.filter(r => cls(r._2, r._4) == 1)
    val firstOf = surv.groupBy(_._4).map { case (p, rs) =>
      p -> rs.map(r => (r._1, r._3)).min }
    val want = rows.map { case (id, u, t) =>
      val d = dom(u)
      val cs = chunks(t).zipWithIndex
      val nTpl = cs.count { case (p, _) => cls(d, p) == 0 }
      val nSyn = cs.count { case (p, _) => cls(d, p) == -1 }
      val kept = cs.filter { case (p, i) =>
        cls(d, p) == 1 && firstOf(p) == ((id, i)) }
      val nDup = cs.size - nTpl - nSyn - kept.size
      id -> ((d, cs.size.toLong,
        kept.map(_._1.split(" ").length.toLong).sum,
        nTpl.toLong, nSyn.toLong, nDup.toLong))
    }.toMap
    val got = DomainStats.cleanTokenStatsV2(docs, "url", "doc_id", "text",
        minDocs = 3, minDomains = 3, grain = g)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(got == want, s"got=$got want=$want")
    // precedence contracts, each visible in the fixture:
    // (a) template OUTRANKS syndication: `both` qualifies for both rules,
    //     and on a.com (its origin AND template domain) it counts as
    //     template-dropped — keep-origin does not shield within-domain
    //     repetition, so the origin keeps NO copy of `both`
    assert(got(1L)._4 >= 1L && got(2L)._4 >= 2L, s"1=${got(1L)} 2=${got(2L)}")
    // (b) keep-origin: doc 1 (a.com, first occurrence) keeps `wire`;
    //     b.net/c.org copies are syndication-dropped, NOT dedup-dropped
    assert(got(5L)._5 >= 1L && got(6L)._5 >= 1L, s"5=${got(5L)} 6=${got(6L)}")
    // (c) keep-first over strip SURVIVORS only: `dupP` is kept in doc 1
    //     and dedup-dropped (not synd-dropped) in doc 5
    assert(got(5L)._6 >= 1L, s"5=${got(5L)}")
    // (d) fully-excised docs stay present with zero clean mass
    assert(got(4L)._3 == 0L && got(4L)._4 >= 1L, s"4=${got(4L)}")
  }

  test("bitext mining: mutual margin matches recover planted translation pairs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def vec() = Array.fill(64)(rnd.nextGaussian().toFloat)
    val srcV = (0 until 8).map(_ => vec())
    // five tgt vectors are near-copies of src 0..4 (planted translations),
    // three are unrelated noise
    val tgtV = (0 until 8).map { i =>
      if (i < 5) srcV(i).zipWithIndex.map {
        case (v, d) => if (d == 0) v + 0.01f else v }
      else vec()
    }
    val src = srcV.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val tgt = tgtV.zipWithIndex.map { case (v, i) => (100L + i, v) }
      .toDF("vec_id", "embedding")
    val got = Similarity.bitextMine(src, tgt, "vec_id", "embedding", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    val mined = got.map(p => (p._1, p._2)).toSet
    (0 until 5).foreach(i =>
      assert(mined((i.toLong, 100L + i)), s"missing pair $i: ${got.toSeq}"))
    // planted pairs sit at ~cos 1.0 and AT or ABOVE the neutral margin
    // (exactly 1e6 when the twin is a vector's only candidate)
    got.filter(p => p._1 < 5).foreach { p =>
      assert(p._3 > 9900L && p._4 >= 1000000L, p.toString) }
    // mutual-argmax output is injective on both sides
    assert(got.map(_._1).distinct.length == got.length, got.toSeq.toString)
    assert(got.map(_._2).distinct.length == got.length, got.toSeq.toString)
  }

  test("bitext mining: occupancy guard loud-fails an undersized bits point") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def vec() = Array.fill(8)(rnd.nextGaussian().toFloat)
    val side = (0 until 12).map(i => (i.toLong, vec()))
      .toDF("vec_id", "embedding")
    // 12 vectors over 2^1 = 2 buckets = 6 expected rows/bucket > bound 4
    val ex = intercept[IllegalArgumentException] {
      Similarity.bitextMine(side, side, "vec_id", "embedding",
        k = 2, tables = 2, bits = 1, maxOccupancy = 4).count()
    }
    assert(ex.getMessage.contains("occupancy"), ex.getMessage)
    // the same corpus passes once bits is sized to it
    assert(Similarity.bitextMine(side, side, "vec_id", "embedding",
      k = 2, tables = 2, bits = 4, maxOccupancy = 4).count() >= 0)
  }

  test("clean token stats v3: template > fuzzy-synd > exact-synd > keep-first") {
    import spark.implicits._
    val g = 4
    val chunks = cdcChunks(g) _
    def md5b0(tok: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(tok.getBytes("UTF-8"))(0) & 0xff
    }
    val pool = (0 until 400).map(i => s"w$i").filter(md5b0(_) % g != 0)
    val bt = (0 until 400).map(i => s"w$i").find(md5b0(_) % g == 0).get
    // fuzzy press-wire cluster F: 15-token chunk, two 1-token-edit
    // variants (unigram Jaccard 14/16 >= 4/5); each variant on ONE
    // domain only, so the exact rule can never fire for them
    val fBase = pool.slice(0, 14)
    val f1 = (fBase :+ bt).mkString(" ")
    val f2 = (fBase.updated(0, pool(200)) :+ bt).mkString(" ")
    val f3 = (fBase.updated(1, pool(201)) :+ bt).mkString(" ")
    // template-and-fuzzy cluster T: a.com template (3 pages) whose
    // near-variants live on b.net / c.org
    val tBase = pool.slice(20, 34)
    val t1 = (tBase :+ bt).mkString(" ")
    val t2 = (tBase.updated(0, pool(202)) :+ bt).mkString(" ")
    val t3 = (tBase.updated(1, pool(203)) :+ bt).mkString(" ")
    // exact-on-fuzzy-origin cluster X: x1 first on a.com (cluster
    // origin); x2 first on b.net but ALSO on a.com and d.org — x2
    // qualifies EXACTLY (3 domains, origin b.net), so its a.com copy is
    // exact-dropped even though a.com is the CLUSTER's origin
    val xBase = pool.slice(40, 54)
    val x1 = (xBase :+ bt).mkString(" ")
    val x2 = (xBase.updated(0, pool(204)) :+ bt).mkString(" ")
    // byte-identical wire E on three domains: 1 variant — the >= 2
    // variant floor leaves it to the EXACT rule
    val e = Seq(pool(60), pool(61), bt).mkString(" ")
    val dupP = Seq(pool(63), pool(64), bt).mkString(" ") // plain 2-copy dup
    def filler(i: Int) = pool.slice(i, i + 3).mkString(" ")
    val rows = Seq(
      (1L, "https://a.com/p1", Seq(x1, t1, f1, e, dupP).mkString(" ")),
      (2L, "https://a.com/p2", t1 + " " + filler(70)),
      (3L, "https://a.com/p3", t1 + " " + filler(80)),
      (5L, "https://b.net/p1", Seq(x2, t2, f2, e, dupP).mkString(" ")),
      (6L, "https://c.org/p1", Seq(t3, f3, e).mkString(" ")),
      (7L, "https://a.com/p4", x2 + " " + filler(90)),
      (8L, "https://d.org/p1", x2 + " " + filler(100)))
    val docs = rows.toDF("doc_id", "url", "text")
    def dom(u: String) = u.stripPrefix("https://").takeWhile(_ != '/')
    val paras = rows.flatMap { case (id, u, t) =>
      chunks(t).zipWithIndex.map { case (p, i) => (id, dom(u), i, p) } }
    // intended near-dup clusters (the engine derives them via LSH; the
    // construction keeps every other chunk pair token-disjoint)
    val clusterOf = Map(f1 -> "F", f2 -> "F", f3 -> "F",
      t1 -> "T", t2 -> "T", t3 -> "T", x1 -> "X", x2 -> "X")
    val tmpl = paras.groupBy(r => (r._2, r._4))
      .filter(_._2.map(_._1).distinct.size >= 3).keySet
    val synd = paras.groupBy(_._4)
      .filter(_._2.map(_._2).distinct.size >= 3).keySet
    val fdOf = paras.groupBy(_._4)
      .map { case (p, rs) => p -> rs.minBy(r => (r._1, r._3))._2 }
    val byCl = paras.filter(r => clusterOf.contains(r._4)).groupBy(r => clusterOf(r._4))
    val qualCl = byCl.filter { case (_, rs) =>
      rs.map(_._2).distinct.size >= 3 && rs.map(_._4).distinct.size >= 2 }.keySet
    val cfdOf = byCl.map { case (c, rs) => c -> rs.minBy(r => (r._1, r._3))._2 }
    def cls(d: String, p: String) =
      if (tmpl((d, p))) 0
      else if (clusterOf.get(p).exists(c => qualCl(c) && cfdOf(c) != d)) -2
      else if (synd(p) && fdOf(p) != d) -1
      else 1
    val surv = paras.filter(r => cls(r._2, r._4) == 1)
    val firstOf = surv.groupBy(_._4).map { case (p, rs) =>
      p -> rs.map(r => (r._1, r._3)).min }
    val want = rows.map { case (id, u, t) =>
      val d = dom(u)
      val cs = chunks(t).zipWithIndex
      val nTpl = cs.count { case (p, _) => cls(d, p) == 0 }
      val nFz = cs.count { case (p, _) => cls(d, p) == -2 }
      val nSyn = cs.count { case (p, _) => cls(d, p) == -1 }
      val kept = cs.filter { case (p, i) =>
        cls(d, p) == 1 && firstOf(p) == ((id, i)) }
      val nDup = cs.size - nTpl - nFz - nSyn - kept.size
      id -> ((d, cs.size.toLong,
        kept.map(_._1.split(" ").length.toLong).sum,
        nTpl.toLong, nFz.toLong, nSyn.toLong, nDup.toLong))
    }.toMap
    val got = DomainStats.cleanTokenStatsV3(docs, "url", "doc_id", "text",
        minDocs = 3, minDomains = 3, grain = g)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7)))).toMap
    assert(got == want, s"got=$got want=$want")
    // precedence contracts, each visible in the fixture:
    // (a) fuzzy keep-origin: a.com (doc 1, cluster F origin) keeps f1;
    //     the b.net/c.org variants are fuzzy-dropped — the exact rule
    //     can't see them (each variant lives on one domain)
    assert(got(5L)._5 >= 1L && got(6L)._5 >= 1L, s"5=${got(5L)} 6=${got(6L)}")
    // (b) template OUTRANKS fuzzy: t1 on a.com is template-dropped on
    //     all three pages; the b.net/c.org variants fuzzy-dropped
    assert(got(1L)._4 >= 1L && got(2L)._4 >= 1L && got(3L)._4 >= 1L,
      s"1=${got(1L)} 2=${got(2L)} 3=${got(3L)}")
    // (c) the 2-variant floor leaves byte-identical wire to the EXACT
    //     rule: e is exact-dropped on b.net/c.org, kept on a.com
    assert(got(5L)._6 >= 1L && got(6L)._6 >= 1L, s"5=${got(5L)} 6=${got(6L)}")
    // (d) rules shield only their own class: doc 7 (a.com = cluster X's
    //     origin domain) holds x2, whose own exact origin is b.net —
    //     exact-dropped despite sitting on the fuzzy origin domain
    assert(got(7L)._6 >= 1L, s"7=${got(7L)}")
    // (e) keep-first over survivors only: dupP kept in doc 1,
    //     dedup-dropped in doc 5
    assert(got(5L)._7 >= 1L, s"5=${got(5L)}")
  }

  test("syndication: cross-domain catalog + rollup, templates excluded") {
    import spark.implicits._
    val g = 4
    val chunks = cdcChunks(g) _
    def md5b0(tok: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(tok.getBytes("UTF-8"))(0) & 0xff
    }
    // controlled chunking: pool tokens are NON-boundary at grain 4, `bt`
    // is a boundary token — every bt-terminated group is its own chunk
    val pool = (0 until 200).map(i => s"w$i").filter(md5b0(_) % g != 0)
    val bt = (0 until 200).map(i => s"w$i").find(md5b0(_) % g == 0).get
    // wire = two chunks, on THREE domains (first on a.com); tpl = one
    // chunk, on three a.com PAGES only (template, not syndication)
    val wire = Seq(pool(0), pool(1), bt, pool(2), pool(3), bt).mkString(" ")
    val tpl = Seq(pool(4), pool(5), bt).mkString(" ")
    def filler(i: Int, n: Int) = pool.slice(i, i + n).mkString(" ")
    val rows = Seq(
      (1L, "https://a.com/p1", wire + " " + tpl),
      (2L, "https://a.com/p2", tpl + " " + filler(10, 3)),
      (3L, "https://a.com/p3", filler(13, 2) + " " + bt + " " + tpl),
      (4L, "https://b.net/p1", filler(15, 2) + " " + bt + " " + wire),
      (5L, "https://c.org/p1", wire))
    val docs = rows.toDF("doc_id", "url", "text")
    def dom(u: String) = u.stripPrefix("https://").takeWhile(_ != '/')
    val paras = rows.flatMap { case (id, u, t) =>
      chunks(t).zipWithIndex.map { case (p, i) => (id, dom(u), i, p) } }
    val byP = paras.groupBy(_._4)
    val qual = byP.filter(_._2.map(_._2).distinct.size >= 3).keySet
    val firstDomOf = byP.map { case (p, rs) => p -> rs.minBy(r => (r._1, r._3))._2 }
    // catalog: exactly the >= 3-domain paragraphs, attributed to a.com
    val cat = DomainStats.syndicationCatalog(docs, "url", "doc_id", "text",
        minDomains = 3, grain = g)
      .collect().map(r => r.getString(1) -> ((r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    val wantCat = qual.map { p =>
      val rs = byP(p)
      p -> ((firstDomOf(p), rs.map(_._2).distinct.size.toLong,
        rs.map(_._1).distinct.size.toLong, rs.size.toLong,
        rs.map(_._4.split(" ").length.toLong).sum))
    }.toMap
    assert(cat == wantCat, s"got=$cat want=$wantCat")
    // both wire chunks qualify, each first seen on a.com
    assert(cat.keySet == Set(s"${pool(0)} ${pool(1)} $bt",
      s"${pool(2)} ${pool(3)} $bt"), cat.toString)
    assert(cat.values.forall(_._1 == "a.com"), cat.toString)
    // SEPARATION: the single-domain template is NOT syndication
    assert(!cat.contains(tpl), cat.toString)
    // rollup brute force
    val wantRoll = paras.groupBy(_._2).map { case (d, rs) =>
      def in(r: (Long, String, Int, String)) =
        qual(r._4) && firstDomOf(r._4) != d
      val inToks = rs.filter(in).map(_._4.split(" ").length.toLong).sum
      val allToks = rs.map(_._4.split(" ").length.toLong).sum
      d -> ((rs.size.toLong, allToks, rs.count(in).toLong, inToks,
        rs.filter(r => qual(r._4) && firstDomOf(r._4) == d)
          .map(_._4).distinct.size.toLong,
        math.floor(inToks * 10000.0 / allToks).toLong))
    }
    val roll = DomainStats.domainSyndication(docs, "url", "doc_id", "text",
        minDomains = 3, grain = g)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(roll == wantRoll, s"got=$roll want=$wantRoll")
    // b.net and c.org copied the wire paragraph IN; a.com originated it
    assert(roll("c.org")._3 >= 1L, roll.toString)
    assert(roll("a.com")._5 >= 1L && roll("a.com")._3 == 0L, roll.toString)
  }

  test("cluster split: no near-dup pair straddles a boundary, md5 replay") {
    import spark.implicits._
    def label(s: String) = md5SplitLabel(s)
    val docs = Seq(
      (1L, "a a a"), (2L, "a a"), (3L, "b b"), (4L, "c"), (5L, "d d d d"))
      .toDF("doc_id", "text")
    // cluster {1,2,3} (transitive via 2), singletons 4 and 5
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val clOf = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L)
    val toks = Map(1L -> 3L, 2L -> 2L, 3L -> 2L, 4L -> 1L, 5L -> 4L)
    val want = clOf.groupBy { case (_, cl) => label(cl.toString) }
      .map { case (sp, ms) =>
        val ids = ms.keys.toSeq
        sp -> ((ms.values.toSeq.distinct.size.toLong, ids.size.toLong,
          ids.map(toks).sum,
          ids.count(id => label(id.toString) != sp).toLong))
      }
    val got = Dedup.clusterSplit(docs, "doc_id", pairs, "text")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(got == want, s"got=$got want=$want")
    // THE contract: cluster members can never straddle — every pair's
    // two ends get the same label by construction
    assert(label(clOf(1L).toString) == label(clOf(2L).toString))
    assert(label(clOf(2L).toString) == label(clOf(3L).toString))
    // and the rollup accounts docs a naive doc split would misplace
    assert(got.values.map(_._2).sum == 5L)
  }

  test("syndication strip: keep-origin semantics, brute-force") {
    import spark.implicits._
    val g = 4
    val chunks = cdcChunks(g) _
    def md5b0(tok: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(tok.getBytes("UTF-8"))(0) & 0xff
    }
    val pool = (0 until 200).map(i => s"w$i").filter(md5b0(_) % g != 0)
    val bt = (0 until 200).map(i => s"w$i").find(md5b0(_) % g == 0).get
    val wire = Seq(pool(0), pool(1), bt).mkString(" ") // 3 domains, a.com first
    val tpl = Seq(pool(4), pool(5), bt).mkString(" ") // 2 domains: SUB-threshold
    def filler(i: Int, n: Int) = pool.slice(i, i + n).mkString(" ")
    val rows = Seq(
      (1L, "https://a.com/p1", wire + " " + tpl),
      (2L, "https://a.com/p2", filler(10, 2) + " " + bt + " " + wire),
      (3L, "https://a.com/p3", tpl),
      (4L, "https://b.net/p1", wire + " " + filler(13, 2)),
      (5L, "https://c.org/p1", filler(15, 1) + " " + bt + " " + wire + " " + tpl))
    val docs = rows.toDF("doc_id", "url", "text")
    def dom(u: String) = u.stripPrefix("https://").takeWhile(_ != '/')
    val paras = rows.flatMap { case (id, u, t) =>
      chunks(t).zipWithIndex.map { case (p, i) => (id, dom(u), i, p) } }
    val byP = paras.groupBy(_._4)
    val qual = byP.filter(_._2.map(_._2).distinct.size >= 3).keySet
    val fdOf = byP.map { case (p, rs) => p -> rs.minBy(r => (r._1, r._3))._2 }
    val want = rows.map { case (id, u, t) =>
      val cs = chunks(t)
      val kept = cs.filter(p => !(qual(p) && fdOf(p) != dom(u)))
      id -> ((kept.mkString(" "), cs.size.toLong, (cs.size - kept.size).toLong))
    }.toMap
    val got = DomainStats.syndicationStrip(docs, "url", "doc_id", "text",
        minDomains = 3, grain = g)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == want, s"got=$got want=$want")
    // keep-origin: BOTH a.com copies of the wire paragraph survive (vs
    // dedup's keep-first, which would keep only doc 1's)
    assert(got(1L)._1.contains(wire) && got(2L)._1.contains(wire), got.toString)
    // copier domains lose theirs
    assert(got(4L)._3 == 1L && !got(4L)._1.contains(wire), got(4L).toString)
    assert(!got(5L)._1.contains(wire), got(5L).toString)
    // the 2-domain paragraph stays below threshold -> kept everywhere
    assert(got(5L)._1.contains(tpl) && got(3L)._1.contains(tpl), got.toString)
  }

  test("fuzzy syndication: edited cross-domain copies cluster, templates and exact stay out") {
    import spark.implicits._
    val g = 16
    def md5b0(tok: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(tok.getBytes("UTF-8"))(0) & 0xff
    }
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val pool = (0 until 400).map(i => s"w$i").filter(md5b0(_) % g != 0)
    val bt = (0 until 400).map(i => s"w$i").find(md5b0(_) % g == 0).get
    // wire family: 10-token paragraphs, one token locally edited per
    // copier — token-set Jaccard vs the base is 9/11 = 0.818 >= 4/5
    val baseT = pool.slice(50, 59)
    val base = (baseT :+ bt).mkString(" ")
    val varB = (baseT.updated(0, pool(60)) :+ bt).mkString(" ")
    val varC = (baseT.updated(1, pool(61)) :+ bt).mkString(" ")
    // within-domain-only near-dup pair (a fuzzy TEMPLATE, not syndication)
    val tplA = (pool.slice(70, 79) :+ bt).mkString(" ")
    val tplB = ((pool(79) +: pool.slice(71, 79)) :+ bt).mkString(" ")
    // exact cross-domain paragraph: q318's row, NOT ours (1 variant)
    val exactW = (pool.slice(80, 86) :+ bt).mkString(" ")
    val rows = Seq(
      (1L, "https://a.com/p1", base + " " + exactW),
      (2L, "https://b.net/p1", varB + " " + exactW),
      (3L, "https://c.org/p1", varC + " " + exactW),
      (4L, "https://a.com/p2", tplA),
      (5L, "https://a.com/p3", tplB))
    val docs = rows.toDF("doc_id", "url", "text")
    val got = DomainStats.fuzzySyndicationCatalog(docs, "url", "doc_id",
        "text", minDomains = 3, grain = g, shingleK = 1,
        numHashes = 64, bands = 16, jacNum = 4, jacDen = 5)
      .collect()
    assert(got.length == 1, got.mkString("; "))
    val r = got.head
    // cluster name = min member hash; representative = min member text
    val variants = Seq(base, varB, varC)
    assert(r.getString(0) == variants.map(md5hex).min, r.toString)
    assert(r.getString(1) == variants.min, r.toString)
    // origin = first occurrence by (doc id, position) -> a.com's base copy
    assert(r.getString(2) == "a.com", r.toString)
    assert(r.getLong(3) == 3L && r.getLong(4) == 3L && r.getLong(5) == 3L,
      r.toString) // n_variants, n_domains, n_docs
    assert(r.getLong(6) == 3L && r.getLong(7) == 30L, r.toString)
  }

  test("fuzzy syndication strip: keep-origin over global near-dup clusters") {
    import spark.implicits._
    val g = 16
    def md5b0(tok: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(tok.getBytes("UTF-8"))(0) & 0xff
    }
    val pool = (0 until 400).map(i => s"w$i").filter(md5b0(_) % g != 0)
    val bt = (0 until 400).map(i => s"w$i").find(md5b0(_) % g == 0).get
    val baseT = pool.slice(50, 59)
    val base = (baseT :+ bt).mkString(" ")
    val varB = (baseT.updated(0, pool(60)) :+ bt).mkString(" ")
    val varC = (baseT.updated(1, pool(61)) :+ bt).mkString(" ")
    val tplA = (pool.slice(70, 79) :+ bt).mkString(" ")
    val tplB = ((pool(79) +: pool.slice(71, 79)) :+ bt).mkString(" ")
    val exactW = (pool.slice(80, 86) :+ bt).mkString(" ")
    val rows = Seq(
      (1L, "https://a.com/p1", base + " " + exactW),
      (2L, "https://b.net/p1", varB + " " + exactW),
      (3L, "https://c.org/p1", varC + " " + exactW),
      (4L, "https://a.com/p2", tplA),
      (5L, "https://a.com/p3", tplB),
      (6L, "https://a.com/p4", base)) // SECOND origin copy — must survive
    val docs = rows.toDF("doc_id", "url", "text")
    val got = DomainStats.fuzzySyndicationStrip(docs, "url", "doc_id",
        "text", minDomains = 3, grain = g, shingleK = 1,
        numHashes = 64, bands = 16, jacNum = 4, jacDen = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // keep-origin: BOTH a.com copies of the wire base survive
    assert(got(1L) == ((base + " " + exactW, 2L, 0L)), got(1L).toString)
    assert(got(6L) == ((base, 1L, 0L)), got(6L).toString)
    // copier domains lose their EDITED variants (no shared hash — the
    // exact strip q321 would pass these over); exact cross-domain
    // paragraph survives (1 variant -> not a fuzzy cluster's row)
    assert(got(2L) == ((exactW, 2L, 1L)), got(2L).toString)
    assert(got(3L) == ((exactW, 2L, 1L)), got(3L).toString)
    // the within-domain fuzzy pair is a TEMPLATE (1 domain), untouched
    assert(got(4L) == ((tplA, 1L, 0L)) && got(5L) == ((tplB, 1L, 0L)),
      s"4=${got(4L)} 5=${got(5L)}")
  }

  test("incremental syndication strip equals the batch slice of a full recompute") {
    import spark.implicits._
    val g = 4
    val chunks = cdcChunks(g) _
    def md5b0(tok: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(tok.getBytes("UTF-8"))(0) & 0xff
    }
    val pool = (0 until 200).map(i => s"w$i").filter(md5b0(_) % g != 0)
    val bt = (0 until 200).map(i => s"w$i").find(md5b0(_) % g == 0).get
    val wire2 = Seq(pool(0), pool(1), bt).mkString(" ") // 2 corpus domains
    val wire3 = Seq(pool(2), pool(3), bt).mkString(" ") // 3 corpus domains
    def filler(i: Int, n: Int) = pool.slice(i, i + n).mkString(" ")
    val corpus = Seq(
      (1L, "https://a.com/p1", wire2 + " " + wire3 + " " + filler(10, 2)),
      (2L, "https://b.net/p1", wire2 + " " + wire3),
      (3L, "https://c.org/p1", wire3)).toDF("doc_id", "url", "text")
    val batch = Seq(
      (101L, "https://c.org/p2", wire2 + " " + filler(12, 2)), // 3rd domain
      // arrives IN the batch -> wire2 qualifies, origin a.com (doc 1)
      (102L, "https://a.com/p2", wire2), // origin-domain copy -> kept
      (103L, "https://d.org/p1", wire3), // corpus-qualified -> dropped
      (104L, "https://b.net/p2", filler(14, 3))).toDF("doc_id", "url", "text")
    val index = DomainStats.syndicationIndex(corpus, "url", "doc_id", "text",
      grain = g)
    def slice(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    val got = slice(DomainStats.syndicationStripIncremental(
      index, batch, "url", "doc_id", "text", minDomains = 3, grain = g))
    // the Incremental contract: index-path == the batch slice of a full
    // keep-origin recompute over corpus UNION batch
    val want = slice(DomainStats.syndicationStrip(
        corpus.unionAll(batch), "url", "doc_id", "text",
        minDomains = 3, grain = g)
      .filter(col("doc_id") >= 100L))
    assert(got == want, s"got=$got want=$want")
    // the qualification flip: wire2 became syndicated BECAUSE the batch
    // added its third domain — dropped from c.org, kept on origin a.com
    assert(got(101L)._3 == 1L && !got(101L)._1.contains(wire2), got(101L).toString)
    assert(got(102L) == ((wire2, 1L, 0L)), got(102L).toString)
    assert(got(103L) == (("", 1L, 1L)), got(103L).toString)
    assert(got(104L)._3 == 0L, got(104L).toString)
    // append-maintained duplicate index generations re-aggregate
    val got2 = slice(DomainStats.syndicationStripIncremental(
      index.unionAll(index), batch, "url", "doc_id", "text",
      minDomains = 3, grain = g))
    assert(got2 == want, s"dup-generation index changed the result")
  }

  test("per-domain cap budgets: capDedupedBy keeps lowest ids up to each cap") {
    import spark.implicits._
    val docs = (1L to 12L).map { id =>
      val host = if (id <= 5) "a.com" else if (id <= 9) "b.net" else "c.org"
      (id, s"https://$host/p$id", s"t$id")
    }.toDF("doc_id", "url", "text")
    val dd = graft.pipeline.UrlCanon.dedupByUrl(docs, "url", "doc_id")
    val caps = Seq(("a.com", 1), ("b.net", 2)).toDF("url_domain", "cap")
    // c.org absent from caps -> defaultCap = 3 (it has exactly 3 pages)
    val kept = graft.pipeline.UrlCanon.capDedupedBy(dd, caps, defaultCap = 3)
      .collect().map(r => r.getAs[String]("url_domain") ->
        r.getAs[Long]("keeper_id"))
      .groupBy(_._1).map { case (d, rs) => d -> rs.map(_._2).sorted.toSeq }
    assert(kept("a.com") == Seq(1L), kept.toString)            // cap 1
    assert(kept("b.net") == Seq(6L, 7L), kept.toString)        // cap 2
    assert(kept("c.org") == Seq(10L, 11L, 12L), kept.toString) // default 3
    // the cap column must not leak into the output frame
    assert(!graft.pipeline.UrlCanon.capDedupedBy(dd, caps, 3)
      .columns.contains("cap"))
  }

  test("incremental fuzzy syndication strip: edited wire copy condemned by the index alone") {
    import spark.implicits._
    val g = 4
    def md5b0(tok: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(tok.getBytes("UTF-8"))(0) & 0xff
    }
    val pool = (0 until 300).map(i => s"w$i").filter(md5b0(_) % g != 0)
    val bt = (0 until 300).map(i => s"w$i").find(md5b0(_) % g == 0).get
    // one CDC paragraph: 9 distinct non-boundary tokens + the boundary
    // token. A one-token EDIT keeps the chunking (non-boundary for
    // non-boundary) and sits at Jaccard 9/11 >= 4/5 — fuzzy-matched,
    // never hash-matched.
    def para(toks: Seq[String]) = (toks :+ bt).mkString(" ")
    val wire = para(pool.slice(0, 9))            // syndicated original
    val wireEdit = para(pool.slice(0, 8) :+ pool(40))  // one-token edit
    val wireEdit2 = para(pool.slice(0, 8) :+ pool(41)) // a different edit
    val local = para(pool.slice(10, 19))         // single-domain paragraph
    val localEdit = para(pool.slice(10, 18) :+ pool(42))
    val noise = para(pool.slice(20, 29))
    val exact3 = para(pool.slice(50, 59))        // 3 domains, ONE variant
    // wire on THREE corpus domains (a.com first -> origin); local on one
    val corpus = Seq(
      (1L, "https://a.com/p1", wire + " " + noise),
      (2L, "https://b.net/p1", wire),
      (3L, "https://c.org/p1", wire),
      (4L, "https://a.com/p2", local),
      (5L, "https://a.com/p4", exact3),
      (6L, "https://b.net/p4", exact3),
      (7L, "https://c.org/p4", exact3)).toDF("doc_id", "url", "text")
    val index = DomainStats.fuzzySyndicationIndex(
      corpus, "url", "doc_id", "text", grain = g)
    val batch = Seq(
      // the verdict case: a one-token-edited wire copy on a domain the
      // corpus never saw — no shared hash, condemned by the index alone
      (101L, "https://d.org/p1", wireEdit + " " + para(pool.slice(30, 39))),
      // keep-origin: an edited wire variant on the ORIGIN domain stays
      (102L, "https://a.com/p3", wireEdit2),
      // reach floor: an edit of the single-domain paragraph stays
      // (2 domains counting its own < 3)
      (103L, "https://e.io/p1", localEdit),
      // reach floor again, exact replay flavor: local is single-domain
      (104L, "https://f.co/p1", local),
      // variant floor: exact3 spans 3 corpus domains but has ONE variant;
      // a byte-identical batch replay has nvar = 1 < 2 -> the FUZZY rule
      // defers to the exact incremental strip (q327's case)
      (105L, "https://g.gg/p1", exact3)).toDF("doc_id", "url", "text")
    val got = DomainStats.fuzzySyndicationStripIncremental(
        index, batch, "url", "doc_id", "text", minDomains = 3, grain = g)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(101L)._3 == 1L && !got(101L)._1.contains(wireEdit),
      got(101L).toString) // condemned; the unrelated paragraph survives
    assert(got(101L)._1.contains(pool(30)), got(101L).toString)
    assert(got(102L) == ((wireEdit2, 1L, 0L)), got(102L).toString)
    assert(got(103L) == ((localEdit, 1L, 0L)), got(103L).toString)
    assert(got(104L) == ((local, 1L, 0L)), got(104L).toString)
    assert(got(105L) == ((exact3, 1L, 0L)), got(105L).toString)
  }

  test("disk-memo invalidation forces a rebuild (Bench spike-remeasure contract)") {
    import graft.queries.PipelineQueries
    // ensure the jacc memo exists (whoever built it, this run or a prior
    // suite test), then invalidate the entire current build log: entries
    // other queries own just rebuild on their next use
    SparkEntry.queries("q54_token_jaccard_pairs")(spark, dir).count()
    val mark = PipelineQueries.memoBuildMark
    PipelineQueries.invalidateMemoBuilds(0, mark)
    // next consumer must RE-BUILD (the Bench re-run path): the log grows
    SparkEntry.queries("q54_token_jaccard_pairs")(spark, dir).count()
    assert(PipelineQueries.memoBuildMark > mark,
      "invalidated memo was not rebuilt by the next consumer")
    // invalidating an already-invalidated span removes nothing
    assert(PipelineQueries.invalidateMemoBuilds(0, mark) == 0)
    // a warm consumer adds no build-log entries
    val m2 = PipelineQueries.memoBuildMark
    SparkEntry.queries("q87_near_dup_clusters")(spark, dir).count()
    assert(PipelineQueries.memoBuildMark == m2,
      "warm memo read must not log a build")
  }
}
