package graft

import org.apache.spark.sql.functions._

/** Property-style randomized tests (fixed seeds — reruns are identical)
  * for the integer-exact kernels the oracle strategy rests on: whatever
  * the input, the arithmetic must hold exactly, not just on the fixtures
  * the battery happens to use.
  */
class PropertySpec extends SparkSpec {
  graft.functions.GraftFunctions.register(spark)

  test("systematic PPS: Σhits = k and matches the sequential reference on random weights") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 12) {
      val n = 1 + rnd.nextInt(40)
      val k = 1 + rnd.nextInt(20)
      // include zero weights and heavy outliers
      val ws = (1L to n.toLong).map(i => i -> (rnd.nextInt(4) match {
        case 0 => 0L
        case 1 => rnd.nextInt(5000).toLong
        case _ => rnd.nextInt(50).toLong
      }))
      val total = ws.map(_._2).sum
      if (total > 0) {
        val out = pipeline.Sampling
          .systematicPps(ws.toDF("id", "w"), "id", "w", k)
          .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
        assert(out.values.sum == k, s"k=$k ws=$ws got=$out")
        // sequential reference walk of the same boundary formula
        var cum = 0L
        val ref = ws.flatMap { case (id, w) =>
          val g1 = math.min(k.toLong, (2L * k * (cum + w) + total) / (2L * total))
          val g0 = math.min(k.toLong, (2L * k * cum + total) / (2L * total))
          cum += w
          if (g1 > g0) Some(id -> (g1 - g0)) else None
        }.toMap
        assert(out == ref, s"k=$k ws=$ws")
        ws.filter(_._2 == 0L).foreach { case (id, _) =>
          assert(!out.contains(id), s"zero-weight $id selected") }
      }
    }
  }

  test("u64 arithmetic wraps exactly like BigInt mod 2^64") {
    val rnd = new scala.util.Random(7)
    val m = BigInt(1) << 64
    def toU(b: BigInt): BigInt = ((b % m) + m) % m
    def asLong(b: BigInt): Long = toU(b).toLong // two's-complement carrier
    for (_ <- 1 to 15) {
      val a = rnd.nextLong(); val b = rnd.nextLong()
      val row = spark.sql(
        s"SELECT u64_add(${a}L, ${b}L), u64_sub(${a}L, ${b}L), u64_mul(${a}L, ${b}L)")
        .head()
      assert(row.getLong(0) == asLong(toU(BigInt(a)) + toU(BigInt(b))), s"add $a $b")
      assert(row.getLong(1) == asLong(toU(BigInt(a)) - toU(BigInt(b))), s"sub $a $b")
      assert(row.getLong(2) == asLong(toU(BigInt(a)) * toU(BigInt(b))), s"mul $a $b")
    }
  }

  test("time_bucket contains its input for fixed-width periods, any timestamp") {
    val rnd = new scala.util.Random(11)
    val periods = Seq("PT30S" -> 30000000L, "PT5M" -> 300000000L,
      "PT2H" -> 7200000000L)
    for (_ <- 1 to 10) {
      // ±20 years around epoch, µs precision
      val us = (rnd.nextLong() % (20L * 365 * 86400 * 1000000)).abs *
        (if (rnd.nextBoolean()) 1 else -1)
      for ((p, width) <- periods) {
        val got = spark.sql(
          s"SELECT unix_micros(time_bucket(timestamp_micros(${us}L), '$p'))")
          .head().getLong(0)
        assert(got <= us && us < got + width, s"$p us=$us bucket=$got")
        assert(java.lang.Math.floorMod(got, width) == 0, s"$p misaligned: $got")
      }
    }
  }

  test("k-anonymity report never emits a compliant group, any data") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    for (_ <- 1 to 8) {
      val rows = (1 to (5 + rnd.nextInt(60))).map(_ =>
        (s"g${rnd.nextInt(6)}", rnd.nextInt(4).toLong))
      val k = 2 + rnd.nextInt(4); val l = 1 + rnd.nextInt(3)
      val df = rows.toDF("qi", "user")
      val out = pipeline.Pii.kAnonymityReport(df, Seq("qi"), "user", k, l)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val truth = rows.groupBy(_._1).map { case (g, rs) =>
        (g, rs.size.toLong, rs.map(_._2).distinct.size.toLong) }
      out.foreach { case (g, sz, ns) =>
        assert(sz < k || ns < l, s"compliant group emitted: $g")
        assert(truth.exists(t => t == ((g, sz, ns))), s"counts wrong for $g") }
      truth.filter(t => t._2 < k || t._3 < l).foreach { t =>
        assert(out.exists(o => (o._1, o._2, o._3) == t), s"violation missed: $t") }
    }
  }

  test("DDL round-trip: SHOW CREATE re-parses to an identical canonical form, random schemas") {
    val rnd = new scala.util.Random(19)
    val e = new graft.engine.TsdbEngine(spark, tmpDir("graft-ddl-prop"))
    val tagTypes = Seq("string", "bigint", "int", "smallint", "tinyint",
      "uint64", "uint32", "uint16", "uint8", "boolean", "varbinary")
    val fieldTypes = tagTypes ++ Seq("double", "float", "date")
    for (i <- 1 to 8) {
      val nCols = 2 + rnd.nextInt(5)
      val cols = Seq(s"t0 string TAG") ++ (1 to nCols).map { j =>
        val isTag = rnd.nextBoolean()
        val tpe = if (isTag) tagTypes(rnd.nextInt(tagTypes.length))
                  else fieldTypes(rnd.nextInt(fieldTypes.length))
        val dict = if (isTag && tpe == "string" && rnd.nextBoolean()) " DICTIONARY" else ""
        val nn = if (rnd.nextBoolean()) " NOT NULL" else ""
        val dflt = if (!isTag && tpe == "bigint" && rnd.nextBoolean()) " DEFAULT 7" else ""
        s"c$j $tpe${if (isTag) " TAG" else ""}$dict$nn$dflt"
      }
      val pk = if (rnd.nextBoolean()) ", PRIMARY KEY(t0, ts)" else ""
      val opts = Seq(
        if (rnd.nextBoolean()) Some("update_mode='append'") else None,
        if (rnd.nextBoolean()) Some("segment_duration='2h'") else None
      ).flatten
      val withClause = if (opts.isEmpty) "" else s" WITH (${opts.mkString(", ")})"
      val ddl = s"CREATE TABLE rt$i (ts timestamp NOT NULL, " +
        s"${cols.mkString(", ")}, TIMESTAMP KEY(ts)$pk) ENGINE=Analytic$withClause"
      e.execute(ddl)
      val printed1 = e.catalog.showCreate(s"rt$i")
      e.execute(s"DROP TABLE rt$i")
      e.execute(printed1) // the printer's output must be valid input...
      val printed2 = e.catalog.showCreate(s"rt$i")
      assert(printed1 == printed2, s"not a fixed point:\n$printed1\n$printed2")
      e.execute(s"DROP TABLE rt$i")
    }
  }

  test("containment pairs equal driver-side brute force on random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val vocab = ('a' to 'j').map(_.toString)
    for (_ <- 1 to 6) {
      val docs = (1L to (8 + rnd.nextInt(8)).toLong).map { id =>
        val n = 2 + rnd.nextInt(7)
        (id, "en", (1 to n).map(_ => vocab(rnd.nextInt(vocab.length)))
          .mkString(" "))
      }
      val t = 0.75
      val got = pipeline.Dedup.containmentPairs(
          docs.toDF("doc_id", "lang", "text"), "doc_id", "text", "lang",
          n = 1, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val sets = docs.map { case (id, _, txt) =>
        id -> txt.split("\\s+").toSet }.toMap
      val want = (for {
        (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq
        if a != b
        if sa.size < sb.size || (sa.size == sb.size && a < b)
        if sa.intersect(sb).size.toDouble / sa.size >= t
      } yield (a, b)).toSet
      assert(got == want,
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)} docs=$docs")
    }
  }

  test("binary AUC equals the O(n²) pairwise definition on random ties-heavy data") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    for (_ <- 1 to 10) {
      val n = 2 + rnd.nextInt(60)
      // small score domain on purpose: ties are the hard part
      val rows = (1 to n).map(_ => (rnd.nextInt(6).toLong, rnd.nextBoolean()))
      val pos = rows.filter(_._2).map(_._1)
      val neg = rows.filterNot(_._2).map(_._1)
      if (pos.nonEmpty && neg.nonEmpty) {
        val r = pipeline.Eval
          .binaryAuc(rows.toDF("s", "y"), col("s"), col("y")).head()
        // U×2 by definition: 2 per win, 1 per tie, over all pos×neg pairs
        val u2 = (for (p <- pos; q <- neg)
          yield if (p > q) 2L else if (p == q) 1L else 0L).sum
        assert(r.getLong(2) == u2, s"rows=$rows")
        assert(r.getLong(3) ==
          u2 * 10000L / (2L * pos.length * neg.length), s"rows=$rows")
      }
    }
  }

  test("span excision equals driver-side brute force on random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(777)
    val vocab = Vector("a", "b", "c", "d", "E") // small: collisions likely
    for (_ <- 1 to 8) {
      val nGram = 2 + rnd.nextInt(2)
      def sentence(len: Int) =
        Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val docs = (1L to 12L).map(i => (i, sentence(1 + rnd.nextInt(12))))
      val bench = (1 to 3).map(_ => Tuple1(sentence(2 + rnd.nextInt(6))))
      val got = pipeline.Decontaminate.exciseSpans(
          docs.toDF("doc_id", "text"), "doc_id", "text",
          bench.toDF("text"), "text", n = nGram)
        .collect().map(r => r.getLong(0) ->
          (r.getString(1), r.getLong(2), r.getLong(3))).toMap
      // brute force: lowercase n-gram match positions -> covered indices
      val benchGrams = bench.map(_._1.toLowerCase).flatMap { t =>
        val bt = t.split("\\s+").toSeq
        if (bt.size >= nGram) bt.sliding(nGram).map(_.mkString(" ")).toSeq
        else Seq(bt.mkString(" "))
      }.toSet
      for ((id, text) <- docs) {
        val toks = text.split("\\s+").toSeq
        val low = text.toLowerCase.split("\\s+").toSeq
        val covered = (0 to low.size - nGram)
          .filter(p => benchGrams(low.slice(p, p + nGram).mkString(" ")))
          .flatMap(p => p until p + nGram).toSet
        val kept = toks.zipWithIndex.collect {
          case (t, i) if !covered(i) => t }
        assert(got(id) ==
          ((kept.mkString(" "), toks.size.toLong, covered.size.toLong)),
          s"doc=$text bench=$benchGrams got=${got(id)}")
      }
    }
  }

  test("epoch allocation: caps respected, budget never exceeded, any input") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    for (_ <- 1 to 10) {
      val keys = (1 to (2 + rnd.nextInt(8))).map(i =>
        (s"s$i", 1L + rnd.nextInt(10000), 1L + rnd.nextInt(100)))
      val budget = 1L + rnd.nextInt(50000)
      val capBp = 5000 + rnd.nextInt(30000)
      val out = pipeline.Mixing.epochAllocation(
          keys.toDF("k", "nt", "w"), "k", "nt", col("w"), budget, capBp)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3), r.getLong(4)))
      val caps = keys.map(k => k._1 -> k._2 * capBp / 10000).toMap
      for ((k, nt, ta, fa) <- out) {
        assert(fa >= 0 && fa <= caps(k), s"$k fa=$fa cap=${caps(k)}")
        assert(fa >= math.min(ta, caps(k)), s"$k shrank below first-pass")
      }
      // one redistribution round can only move surplus, never mint budget
      assert(out.map(_._4).sum <= out.map(_._3).sum,
        s"Σfinal=${out.map(_._4).sum} Σtarget=${out.map(_._3).sum}")
    }
  }

  test("vocab growth equals driver-side brute force on random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(3131)
    val vocab = ('a' to 'p').map(_.toString)
    for (_ <- 1 to 5) {
      val nDocs = 5 + rnd.nextInt(20)
      val docs = (1L to nDocs.toLong).map { id =>
        (id, (1 to (1 + rnd.nextInt(8)))
          .map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      val nb = 2 + rnd.nextInt(3)
      val got = pipeline.CorpusStats
        .vocabGrowth(docs.toDF("doc_id", "text"), "doc_id", "text", nb)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      // brute force: bucket docs by rank, recount each PREFIX from scratch
      val byBucket = docs.sortBy(_._1).zipWithIndex
        .map { case ((id, txt), i) => (i.toLong * nb / nDocs + 1, txt) }
      val want = (1L to nb.toLong).map { b =>
        val prefix = byBucket.filter(_._1 <= b).map(_._2)
        val toksAll = prefix.flatMap(_.split("\\s+"))
        b -> ((prefix.size.toLong, toksAll.size.toLong,
          toksAll.distinct.size.toLong,
          math.floor(toksAll.distinct.size * 10000.0 / toksAll.size).toLong))
      }.toMap
      assert(got == want, s"got=$got want=$want docs=$docs nb=$nb")
    }
  }

  test("zipf spectrum buckets match floor(log2) + exact masses, random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(808)
    val vocab = ('a' to 'h').map(_.toString)
    for (_ <- 1 to 5) {
      val docs = (1 to (5 + rnd.nextInt(10))).map { _ =>
        Tuple1((1 to (1 + rnd.nextInt(40)))
          .map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      val got = pipeline.CorpusStats.zipfSpectrum(docs.toDF("text"), "text")
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
            r.getString(5)))).toMap
      val counts = docs.flatMap(_._1.split("\\s+"))
        .groupBy(identity).map { case (w, ws) => (w, ws.size.toLong) }
      val want = counts.groupBy { case (_, c) =>
          63L - java.lang.Long.numberOfLeadingZeros(c) } // floor(log2 c)
        .map { case (b, m) => b -> ((m.size.toLong, m.values.sum,
          m.values.min, m.values.max, m.keys.min)) }
      assert(got == want, s"got=$got want=$want")
    }
  }

  test("domain rollup + split: brute force over random URL corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(616)
    def label(s: String) = md5SplitLabel(s)
    for (_ <- 1 to 4) {
      val hosts = Seq("a.com", "b.net", "c.co.uk", "d.org", "e.io",
        "f.github.io", "g.ne.jp")
      val docs = (1L to (10 + rnd.nextInt(20)).toLong).map { id =>
        (id, s"https://${hosts(rnd.nextInt(hosts.length))}/p$id",
          (1 to (1 + rnd.nextInt(6))).map(_ => "w").mkString(" "))
      }
      val df = docs.toDF("doc_id", "url", "text")
      val minTok = 3
      // rollup
      val gotR = pipeline.DomainStats.qualityRollup(df, "url", "text", minTok, 5000)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
            r.getLong(5), r.getLong(6)))).toMap
      def dom(u: String) = { // registered-domain twin (PSL cases + fallback)
        val h = u.stripPrefix("https://").takeWhile(_ != '/')
        val ls = h.split("\\.")
        if (ls.length >= 3 &&
            Set("github.io", "ne.jp", "co.uk")(ls.takeRight(2).mkString(".")))
          ls.takeRight(3).mkString(".")
        else if (ls.length >= 3 && Set("co", "com", "org", "net", "ac", "gov")(ls(ls.length - 2)))
          ls.takeRight(3).mkString(".") else ls.takeRight(2).mkString(".")
      }
      val wantR = docs.groupBy(d => dom(d._2)).map { case (dm, ds) =>
        val ntoks = ds.map(_._3.split("\\s+").length.toLong)
        val nLow = ntoks.count(_ < minTok).toLong
        val lowBp = math.floor(nLow * 10000.0 / ds.size).toLong
        dm -> ((ds.size.toLong, ntoks.sum, nLow,
          math.floor(ntoks.sum * 1000.0 / ds.size).toLong, lowBp,
          if (lowBp < 5000) 1L else 0L))
      }
      assert(gotR == wantR, s"rollup got=$gotR want=$wantR")
      // split
      val gotS = pipeline.DomainStats.domainSplit(df, "url", "doc_id", "text")
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      val wantS = docs.groupBy(d => label(dom(d._2))).map {
        case (sp, ds) =>
          sp -> ((ds.map(d => dom(d._2)).distinct.size.toLong, ds.size.toLong,
            ds.map(_._3.split("\\s+").length.toLong).sum,
            ds.count(d => label(d._1.toString) != sp).toLong))
      }
      assert(gotS == wantS, s"split got=$gotS want=$wantS")
    }
  }

  test("salted domain cap keeps exactly the plain cap's keeper set") {
    import spark.implicits._
    val rnd = new scala.util.Random(808)
    for (trial <- 1 to 4) {
      // trial 1 is the pathological shape the salt exists for: EVERY row
      // on one domain (the corpus that would serialize a plain window)
      val nDomains = if (trial == 1) 1 else 1 + rnd.nextInt(4)
      // unique keeper ids: row_number tie-breaks on equal keeper_id would
      // make the keeper SET itself nondeterministic
      val ids = rnd.shuffle((1L to 1000L).toList).take(200 + rnd.nextInt(200))
      val rows = ids.map { id =>
        val d = s"d${rnd.nextInt(nDomains)}.com"
        (s"http://$d/p$id", d, id, 1L)
      }
      val df = rows.toDF("url_canonical", "url_domain", "keeper_id", "n_variants")
      val cap = 1 + rnd.nextInt(20)
      def keepers(out: org.apache.spark.sql.DataFrame) =
        out.select("url_domain", "keeper_id")
          .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val plain = keepers(pipeline.UrlCanon.capDeduped(df, cap))
      for (salt <- Seq(2, 7)) {
        val salted = keepers(pipeline.UrlCanon.capDeduped(df, cap, salt))
        assert(salted == plain,
          s"trial=$trial cap=$cap salt=$salt: ${salted.diff(plain)} / ${plain.diff(salted)}")
      }
      // brute-force reference: lowest `cap` keeper ids per domain
      // (.toSeq first: flatMap on the Map itself would re-collapse the
      // (domain, id) pairs into a Map, keeping one keeper per domain)
      val want = rows.groupBy(_._2).toSeq.flatMap { case (d, rs) =>
        rs.map(_._3).sorted.take(cap).map(d -> _)
      }.toSet
      assert(plain == want, s"trial=$trial cap=$cap")
    }
  }

  test("salted weighted cap keeps exactly the plain keeper set; dup caps collapse to min") {
    import spark.implicits._
    val rnd = new scala.util.Random(909)
    for (trial <- 1 to 4) {
      // trial 1 is the pathological shape the salt exists for: EVERY row
      // on one domain (the corpus that would serialize a plain window)
      val nDomains = if (trial == 1) 1 else 1 + rnd.nextInt(4)
      val ids = rnd.shuffle((1L to 1000L).toList).take(200 + rnd.nextInt(200))
      val rows = ids.map { id =>
        val d = s"d${rnd.nextInt(nDomains)}.com"
        (s"http://$d/p$id", d, id, 1L)
      }
      val df = rows.toDF("url_canonical", "url_domain", "keeper_id", "n_variants")
      val defaultCap = 1 + rnd.nextInt(10)
      // per-domain budgets for a random subset of domains (d0 always
      // budgeted so trial 1 exercises the joined-cap path, not the default)
      val capOf = (0 until nDomains).filter(i => i == 0 || rnd.nextBoolean())
        .map(i => s"d$i.com" -> (1 + rnd.nextInt(15))).toMap
      val caps = capOf.toSeq.toDF("url_domain", "cap")
      def keepers(out: org.apache.spark.sql.DataFrame) =
        out.select("url_domain", "keeper_id")
          .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val plain = keepers(pipeline.UrlCanon.capDedupedBy(df, caps, defaultCap))
      for (salt <- Seq(2, 7)) {
        val salted = keepers(
          pipeline.UrlCanon.capDedupedBy(df, caps, defaultCap, salt))
        assert(salted == plain,
          s"trial=$trial salt=$salt: ${salted.diff(plain)} / ${plain.diff(salted)}")
      }
      // brute-force reference: lowest effective-cap keeper ids per domain
      val want = rows.groupBy(_._2).toSeq.flatMap { case (d, rs) =>
        rs.map(_._3).sorted.take(capOf.getOrElse(d, defaultCap)).map(d -> _)
      }.toSet
      assert(plain == want, s"trial=$trial defaultCap=$defaultCap")
      // a caller shipping duplicate url_domain rows must not fan the join
      // out (silent keeper-set corruption): the frame collapses to
      // min(cap) — the conservative budget — before the join
      val dupCaps = (capOf.toSeq ++ capOf.toSeq.map { case (d, c) => (d, c + 5) })
        .toDF("url_domain", "cap")
      assert(keepers(pipeline.UrlCanon.capDedupedBy(df, dupCaps, defaultCap))
        == plain, s"trial=$trial dup-caps frame changed the keeper set")
    }
  }

  test("soft dedup weights equal brute-force union-find on random pair graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(2024)
    for (_ <- 1 to 6) {
      val n = 5 + rnd.nextInt(25)
      val ids = (1L to n.toLong).toSeq
      val pairList = for {
        a <- ids; b <- ids if a < b && rnd.nextInt(8) == 0
      } yield (a, b)
      val docs = ids.map(i => (i, s"s${i % 3}")).toDF("doc_id", "source")
      val got = pipeline.Dedup
        .softDedupWeights(docs, "doc_id",
          pairList.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3))))
        .toMap
      // reference: plain union-find
      val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      pairList.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb }
      val size = ids.groupBy(find).map { case (_, m) => m.map(_ -> m.size) }
        .flatten.toMap
      ids.foreach { i =>
        val inPairs = pairList.exists(p => p._1 == i || p._2 == i)
        val k = if (inPairs) size(i).toLong else 1L
        assert(got(i) == ((k, math.floor(10000.0 / k).toLong)),
          s"id=$i got=${got(i)} k=$k pairs=$pairList")
      }
    }
  }

  test("clean token stats + syndication strip: brute force, random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(2718)
    val g = 4
    val chunks = cdcChunks(g) _
    val hosts = Seq("a.com", "b.net", "c.co.uk", "d.org", "e.io")
    def dom(u: String) = { // registered-domain twin (PSL cases + fallback)
      val h = u.stripPrefix("https://").takeWhile(_ != '/')
      val ls = h.split("\\.")
      if (ls.length >= 3 && ls.takeRight(2).mkString(".") == "co.uk")
        ls.takeRight(3).mkString(".") else ls.takeRight(2).mkString(".")
    }
    for (trial <- 1 to 4) {
      // sentence pool drawn WITH repetition across docs, so identical
      // token runs (and therefore identical CDC chunks) recur naturally
      // across documents and domains
      val vocab = (0 until 9).map(i => s"v$i")
      val sents = (0 until 8).map(_ =>
        (1 to (2 + rnd.nextInt(4))).map(_ => vocab(rnd.nextInt(vocab.size)))
          .mkString(" "))
      val docs = (1L to (8 + rnd.nextInt(10)).toLong).map { id =>
        (id, s"https://${hosts(rnd.nextInt(hosts.length))}/p$id",
          (1 to (1 + rnd.nextInt(4))).map(_ => sents(rnd.nextInt(sents.size)))
            .mkString(" "))
      }
      val df = docs.toDF("doc_id", "url", "text")
      val paras = docs.flatMap { case (id, u, t) =>
        chunks(t).zipWithIndex.map { case (p, i) => (id, dom(u), i, p) } }
      // --- cleanTokenStats (template minDocs = 2 to trigger often)
      val tmpl = paras.groupBy(r => (r._2, r._4))
        .filter(_._2.map(_._1).distinct.size >= 2).keySet
      val surv = paras.filter(r => !tmpl((r._2, r._4)))
      val firstOf = surv.groupBy(_._4).map { case (p, rs) =>
        p -> rs.map(r => (r._1, r._3)).min }
      val wantClean = docs.map { case (id, u, t) =>
        val cs = chunks(t).zipWithIndex
        val nTpl = cs.count { case (p, _) => tmpl((dom(u), p)) }
        val kept = cs.filter { case (p, i) =>
          !tmpl((dom(u), p)) && firstOf(p) == ((id, i)) }
        id -> ((dom(u), cs.size.toLong,
          kept.map(_._1.split(" ").length.toLong).sum, nTpl.toLong,
          (cs.size - nTpl - kept.size).toLong))
      }.toMap
      val gotClean = pipeline.DomainStats.cleanTokenStats(
          df, "url", "doc_id", "text", minDocs = 2, grain = g)
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
      assert(gotClean == wantClean,
        s"trial $trial clean got=$gotClean want=$wantClean")
      // --- syndicationStrip (minDomains = 2)
      val byP = paras.groupBy(_._4)
      val qual = byP.filter(_._2.map(_._2).distinct.size >= 2).keySet
      val fdOf = byP.map { case (p, rs) => p -> rs.minBy(r => (r._1, r._3))._2 }
      val wantStrip = docs.map { case (id, u, t) =>
        val cs = chunks(t)
        val kept = cs.filter(p => !(qual(p) && fdOf(p) != dom(u)))
        id -> ((kept.mkString(" "), cs.size.toLong,
          (cs.size - kept.size).toLong))
      }.toMap
      val gotStrip = pipeline.DomainStats.syndicationStrip(
          df, "url", "doc_id", "text", minDomains = 2, grain = g)
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
      assert(gotStrip == wantStrip,
        s"trial $trial strip got=$gotStrip want=$wantStrip")
    }
  }

  test("bitext mining equals driver-side brute force on random vector sets") {
    import spark.implicits._
    import java.math.{BigDecimal => JBD, RoundingMode}
    val T = 16; val B = 6
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 4) {
      val dim = Seq(8, 16, 32)(rnd.nextInt(3))
      val ns = 20 + rnd.nextInt(40)
      val nt = 20 + rnd.nextInt(40)
      val k = 1 + rnd.nextInt(4)
      def vec() = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val srcV = (0L until ns.toLong).map(i => i -> vec())
      val tgtV = (0L until nt.toLong).map(i => (1000L + i) -> vec())
      // driver replay: identical signature draw (signatureOfVec IS the
      // engine kernel), identical L2R double dot/norm accumulation
      // (DotProduct / the aggregate fold both run in index order),
      // identical HALF_UP basis-point quantization, then pure integers
      def sig(v: Array[Float]) = graft.functions.RademacherSig
        .signatureOfVec(v.map(_.toDouble), T, B)
      def cosQ(a: Array[Float], b: Array[Float]): Option[Long] = {
        var dot = 0.0; var na = 0.0; var nb = 0.0
        var i = 0
        while (i < a.length) {
          dot += a(i).toDouble * b(i).toDouble
          na += a(i).toDouble * a(i).toDouble
          nb += b(i).toDouble * b(i).toDouble
          i += 1
        }
        val c = dot / (math.sqrt(na) * math.sqrt(nb))
        if (c > 0)
          Some(JBD.valueOf(c * 10000).setScale(0, RoundingMode.HALF_UP)
            .longValue())
        else None
      }
      val ss = srcV.map { case (i, v) => (i, v, sig(v)) }
      val ts = tgtV.map { case (i, v) => (i, v, sig(v)) }
      val cand = for {
        (xi, xv, xs) <- ss
        (yi, yv, ys) <- ts
        if (0 until T).exists(t => xs(t) == ys(t))
        c <- cosQ(xv, yv)
      } yield (xi, yi, c)
      val fx = cand.groupBy(_._1).map { case (x, ps) =>
        val top = ps.sortBy(p => (-p._3, p._2)).take(k)
        x -> ((top.map(_._3).sum, top.size.toLong)) }
      val fy = cand.groupBy(_._2).map { case (y, ps) =>
        val top = ps.sortBy(p => (-p._3, p._1)).take(k)
        y -> ((top.map(_._3).sum, top.size.toLong)) }
      val m = cand.map { case (x, y, c) =>
        val (sx, cx) = fx(x); val (sy, cy) = fy(y)
        (x, y, c, (2000000L * c * cx * cy) / (sx * cy + sy * cx)) }
      val bx = m.groupBy(_._1).map { case (x, ps) =>
        x -> ps.minBy(p => (-p._4, -p._3, p._2)) }
      val by = m.groupBy(_._2).map { case (y, ps) =>
        y -> ps.minBy(p => (-p._4, -p._3, p._1)) }
      val want = m.filter(p => bx(p._1) == p && by(p._2) == p).toSet
      val got = graft.pipeline.Similarity.bitextMine(
          srcV.toDF("vec_id", "embedding"), tgtV.toDF("vec_id", "embedding"),
          "vec_id", "embedding", k = k, tables = T, bits = B)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got == want,
        s"trial $trial dim=$dim k=$k: got=${got.size} want=${want.size} " +
          s"diff=${(got diff want) ++ (want diff got)}")
    }
  }

  /** The round-11 sf1 promotion for the release pipelines: the v4/v5
    * survivor sets' recursive-closure oracles cannot replay at sf1
    * (DuckDB caps/OOMs), so cross-check the composed chains against
    * INDEPENDENTLY sf1-green component operators instead. Template is
    * the TOP precedence drop-ALL rule, so the composed chains' template
    * class must EQUAL the standalone templateStrip's drops per doc; the
    * exact-syndication class is bracketed by the standalone
    * syndicationStrip (precedence re-attributes template-overlapping
    * occurrences); the fuzzy layer can only move mass out of the
    * synd/dup/kept classes (never into them), so V3's synd class and
    * total clean mass are dominated by V2's. Heavy (full sf1 fuzzy
    * clustering) -- runs only under SPARK_GRAFT_SF1_GATE=1 with
    * target/sf1 generated (tools/gen_sf1.py); the round ritual records
    * the result in SCALING.md. */
  test("sf1 consistency: v4/v5 survivor sets vs sf1-green components") {
    assume(sys.env.get("SPARK_GRAFT_SF1_GATE").contains("1"),
      "set SPARK_GRAFT_SF1_GATE=1 to run the sf1 consistency gate")
    val dir = "target/sf1"
    assume(new java.io.File(s"$dir/documents.parquet").exists,
      "generate target/sf1 first (tools/gen_sf1.py)")
    import graft.queries.PipelineQueries
    import graft.pipeline.DomainStats
    val withUrl = Tables.t(spark, dir, "documents")
      .withColumn("url", PipelineQueries.syntheticUrl)
    val keptIds = PipelineQueries.relcapsKeptIds(spark, dir)
    val capped = withUrl.join(keptIds, Seq("doc_id"), "left_semi")
      .localCheckpoint()
    val fo = PipelineQueries.FuzzyOp
    val v2 = DomainStats.cleanTokenStatsV2(
      capped, "url", "doc_id", "text", minDocs = 3, minDomains = 3,
      grain = 8).localCheckpoint()
    val v3 = DomainStats.cleanTokenStatsV3(
      capped, "url", "doc_id", "text", minDocs = 3, minDomains = 3,
      grain = 8, shingleK = fo.shingleK, numHashes = fo.numHashes,
      bands = fo.bands, jacNum = fo.jacNum, jacDen = fo.jacDen)
      .localCheckpoint()
    val nDocs = capped.count()
    assert(v2.count() == nDocs && v3.count() == nDocs)
    // (1) template class == standalone templateStrip drops, per doc
    val tpl = DomainStats.templateStrip(
      capped, "url", "doc_id", "text", minDocs = 3, grain = 8)
      .select(col("doc_id"), col("n_dropped").as("ts_dropped"))
    val tplMismatch = v2.join(tpl, "doc_id")
      .filter(col("n_tpl_dropped") =!= col("ts_dropped")).count()
    assert(tplMismatch == 0, s"v2 template class != templateStrip on $tplMismatch docs")
    // (2) exact-synd class bracketed by the standalone syndicationStrip
    val syn = DomainStats.syndicationStrip(
      capped, "url", "doc_id", "text", minDomains = 3, grain = 8)
      .select(col("doc_id"), col("n_dropped").as("ss_dropped"))
    val synOut = v2.join(syn, "doc_id")
      .filter(!(col("n_synd_dropped") <= col("ss_dropped") &&
        col("ss_dropped") <= col("n_synd_dropped") + col("n_tpl_dropped")))
      .count()
    assert(synOut == 0, s"v2 synd class outside syndicationStrip bracket on $synOut docs")
    // (3) the fuzzy layer leaves the template class untouched and only
    // shrinks the exact-synd class, per doc
    val v23 = v2.select(col("doc_id"), col("n_tpl_dropped").as("t2"),
        col("n_synd_dropped").as("s2"), col("clean_tokens").as("c2"))
      .join(v3.select(col("doc_id"), col("n_tpl_dropped").as("t3"),
        col("n_synd_dropped").as("s3"), col("clean_tokens").as("c3")),
        "doc_id")
      .localCheckpoint()
    assert(v23.filter(col("t2") =!= col("t3")).count() == 0,
      "fuzzy layer changed the template class")
    assert(v23.filter(col("s3") > col("s2")).count() == 0,
      "fuzzy layer grew the exact-synd class")
    // (4) total clean mass monotone: per ph the v3 survivor set is a
    // subset of v2's, so corpus-total clean tokens cannot grow
    val tot = v23.agg(sum("c2").as("c2"), sum("c3").as("c3")).head()
    assert(tot.getLong(1) <= tot.getLong(0),
      s"v3 total clean ${tot.getLong(1)} > v2 ${tot.getLong(0)}")
  }

  test("tsid: the driver-side write stamp agrees with TsidHash through Spark") {
    import graft.model.{ColumnSpec, DatumKind, TableSchema}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    import org.scalacheck.{Gen, Prop, Test => Check}
    import scala.jdk.CollectionConverters._
    val value: Gen[String] = Gen.frequency(
      2 -> Gen.const(null), 2 -> Gen.const(""), 4 -> Gen.alphaNumStr,
      3 -> Gen.listOf(Gen.oneOf("é", "日本", "\u0000", " ", ",", "=", "😀", "ß"))
        .map(_.mkString),
      2 -> Gen.asciiPrintableStr)
    val sample: Gen[(Int, List[List[String]])] = for {
      k <- Gen.choose(1, 4)
      rows <- Gen.listOfN(40, Gen.listOfN(k, value))
    } yield (k, rows)
    val prop = Prop.forAll(sample) { case (k, rows) =>
      val tags = (0 until k).map(i => ColumnSpec(s"t$i", DatumKind.String, isTag = true))
      val s = TableSchema("p", ColumnSpec("ts", DatumKind.Timestamp, isNullable = false) +: tags,
        "ts", None)
      val stamped = graft.engine.MemBatch.stamp(s, 0L, tags.map(_.name),
        rows.map(r => (0L +: r).toArray[Any]), java.time.ZoneOffset.UTC).rows.map(_.last.asInstanceOf[Long])
      val df = spark.createDataFrame(rows.map(r => Row.fromSeq(r)).asJava,
        StructType(tags.map(c => StructField(c.name, StringType))))
      val viaSpark = df.select(graft.functions.TsidHash.tsid(
        tags.zipWithIndex.map { case (c, i) => (col(c.name), i + 1) })).collect()
        .map(_.getLong(0)).toSeq
      stamped == viaSpark
    }
    val res = Check.check(Check.Parameters.default.withMinSuccessfulTests(20)
      .withInitialSeed(org.scalacheck.rng.Seed(7L)), prop)
    assert(res.passed, res.status.toString)
  }

  test("write stamp: strings reach timestamp and date columns as Spark's cast reads them") {
    import graft.model.{ColumnSpec, DatumKind}
    import org.scalacheck.{Gen, Prop, Test => Check}
    import scala.util.Try
    val zoned: Gen[String] = for {
      date <- Gen.oneOf("2024-01-05", "2024-1-5", "2024", "2024-02", "1999-12-31", "2024-13-01")
      sep <- Gen.oneOf(" ", "T")
      time <- Gen.oneOf("", "12:34", "12:34:56", "12:34:56.789", "1:2:3", "25:00:00")
      zone <- Gen.oneOf("", "Z", "+01:00", " UTC", "-0800", "America/New_York")
      pad <- Gen.oneOf("", " ")
    } yield pad + date + (if (time.isEmpty) "" else sep + time) + zone + pad
    val value: Gen[String] = Gen.frequency(8 -> zoned, 1 -> Gen.alphaNumStr, 1 -> Gen.const(""))
    val ts = ColumnSpec("c", DatumKind.Timestamp)
    val date = ColumnSpec("c", DatumKind.Date)
    val utc = java.time.ZoneOffset.UTC
    val prop = Prop.forAll(Gen.listOfN(30, value)) { vs =>
      val df = spark.createDataFrame(vs.map(Tuple1(_))).toDF("s")
      val viaSpark = df.selectExpr("unix_micros(try_cast(s AS timestamp))",
        "unix_date(try_cast(s AS date))").collect()
      vs.zip(viaSpark).forall { case (v, r) =>
        val t = Try(graft.engine.MemBatch.toInternal(v, ts, utc)).toOption
        val d = Try(graft.engine.MemBatch.toInternal(v, date, utc)).toOption
        t == Option(r.get(0)) && d == Option(r.get(1))
      }
    }
    val res = Check.check(Check.Parameters.default.withMinSuccessfulTests(20)
      .withInitialSeed(org.scalacheck.rng.Seed(11L)), prop)
    assert(res.passed, res.status.toString)
  }

  test("overwrite read equals the window snapshot under random buffered writes, flush, compact and INSERT") {
    import graft.engine.TsdbEngine
    import graft.influx.LineProtocol
    import org.scalacheck.{Gen, Prop, Test => Check}
    val t0 = 1704067200000L // an hour boundary
    // a row: host (None = the tag left out), region, minute step (negative:
    // a late row in the previous hour's segment) and the key double x
    // (None = absent); every written row gets a value of its own
    case class R(host: Option[Int], region: Option[Int], step: Int, x: Option[Double])
    sealed trait Op
    case class Write(rows: List[R]) extends Op
    case class Insert(rows: List[R]) extends Op
    case object Flush extends Op
    case object Compact extends Op
    val row: Gen[R] = for {
      h <- Gen.frequency(1 -> Gen.const(None), 5 -> Gen.choose(0, 2).map(Some(_)))
      r <- Gen.frequency(1 -> Gen.const(None), 3 -> Gen.choose(0, 1).map(Some(_)))
      step <- Gen.frequency(4 -> Gen.choose(0, 2), 1 -> Gen.choose(-2, -1))
      x <- Gen.frequency(1 -> Gen.const(None), 2 -> Gen.oneOf(0.0, -0.0, 1.5).map(Some(_)))
    } yield R(h, r, step, x)
    val op: Gen[Op] = Gen.frequency(
      6 -> Gen.choose(1, 6).flatMap(Gen.listOfN(_, row)).map(Write(_)),
      1 -> Gen.choose(1, 3).flatMap(Gen.listOfN(_, row)).map(Insert(_)),
      1 -> Gen.const(Flush), 2 -> Gen.const(Compact))
    val tables = Seq(
      // implicit (tsid, ts) key: every tag is part of the key
      "pi" -> ("CREATE TABLE pi (host string TAG, region string TAG, x double, v double, " +
        "ts timestamp NOT NULL, TIMESTAMP KEY(ts))"),
      // explicit key with a NULL-able tag and a double: region is not in it
      "pe" -> ("CREATE TABLE pe (host string TAG, region string TAG, x double, v double, " +
        "ts timestamp NOT NULL, TIMESTAMP KEY(ts), PRIMARY KEY(host, x, ts))"))
    val opts = " ENGINE=Analytic WITH (update_mode='overwrite', segment_duration='1h', " +
      "enable_ttl='false')"
    var unwindowed = 0
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
    val prop = Prop.forAll(Gen.choose(3, 8).flatMap(Gen.listOfN(_, op))) { ops =>
      val e = new TsdbEngine(spark, tmpDir("prop-nowin"))
      tables.foreach { case (_, ddl) => e.execute(ddl + opts) }
      var value = 0
      ops.forall { o =>
        tables.foreach { case (t, _) =>
          def v(): Double = { value += 1; value.toDouble }
          def ms(r: R): Long = t0 + r.step * 60000L
          o match {
            case Write(rs) => LineProtocol.ingest(e, rs.map { r =>
              val tags = r.host.map(h => s",host=h$h").getOrElse("") +
                r.region.map(g => s",region=r$g").getOrElse("")
              s"$t$tags ${r.x.map(x => s"x=$x,").getOrElse("")}v=${v()} ${ms(r) * 1000000L}"
            })
            case Insert(rs) => e.execute(s"INSERT INTO $t (host, region, x, v, ts) VALUES " +
              rs.map { r =>
                def q(o: Option[Any], pre: String) = o.map(a => s"'$pre$a'").getOrElse("NULL")
                s"(${q(r.host, "h")}, ${q(r.region, "r")}, ${r.x.getOrElse("NULL")}, ${v()}, ${ms(r)})"
              }.mkString(", "))
            case Flush => e.flush(t)
            case Compact => e.compact(t)
          }
        }
        tables.forall { case (t, _) =>
          val df = e.read(t)
          val plan = df.queryExecution.optimizedPlan
          if (plan.collectFirst { case b: org.apache.spark.sql.execution.LogicalRDD => b }.nonEmpty &&
              plan.collectFirst {
                case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }.isEmpty)
            unwindowed += 1
          rows(df) == rows(e.readAsOf(t, e.currentSeq(t) - 1))
        }
      }
    }
    val res = Check.check(Check.Parameters.default.withMinSuccessfulTests(8)
      .withInitialSeed(org.scalacheck.rng.Seed(13L)), prop)
    assert(res.passed, res.status.toString)
    assert(unwindowed > 0, "no read of buffered rows skipped the window")
  }
}
