package graft

import graft.operators.{AsofJoin, Downsample, SeriesStats}
import graft.pipeline.{Quantize, Retrieval}
import org.apache.spark.sql.functions._

/** Specs for the whole-operator additions: as-of join, M4 downsampling,
  * ranking-eval metrics, int8 quantization. Each is checked against a
  * hand-computed example AND for its plan shape (one shuffle / map-only —
  * the 100 TB contract).
  */
class OperatorsSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private lazy val embs = Tables.t(spark, dir, "embeddings").cache()

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  /** Executed plan string after AQE finalization (the AdaptiveSparkPlanExec
    * toString prints Initial AND Final plans — counting operators on it
    * double-counts every node). */
  private def planString(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    (df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }).toString
  }

  test("asof join: hand-computed matches, ties at equal ts, missing prior -> null") {
    import spark.implicits._
    val left = Seq(
      (1L, "a", ts("2024-01-01 10:00:00"), 10.0),
      (2L, "a", ts("2024-01-01 12:00:00"), 20.0),
      (3L, "b", ts("2024-01-01 09:00:00"), 30.0), // before any right row
      (4L, "b", ts("2024-01-01 11:00:00"), 40.0)
    ).toDF("id", "k", "ts", "v")
    val right = Seq(
      ("a", ts("2024-01-01 09:30:00"), 1.0),
      ("a", ts("2024-01-01 12:00:00"), 2.0), // equal ts: must match row 2
      ("b", ts("2024-01-01 10:30:00"), 3.0)
    ).toDF("k", "ts", "rv")

    val out = AsofJoin.asofJoin(left, right, Seq("k"), "ts")
      .select("id", "right_rv").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(out == Map(1L -> Some(1.0), 2L -> Some(2.0), 3L -> None, 4L -> Some(3.0)))
  }

  test("asof join tolerance: stale matches become null") {
    import spark.implicits._
    val left = Seq((1L, "a", ts("2024-01-01 10:00:00"))).toDF("id", "k", "ts")
    val right = Seq(("a", ts("2024-01-01 07:00:00"), 5.0)).toDF("k", "ts", "rv")
    val wide = AsofJoin.asofJoin(left, right, Seq("k"), "ts",
      tolerance = Some("'4' HOUR"))
    assert(wide.select("right_rv").head().getDouble(0) == 5.0)
    val tight = AsofJoin.asofJoin(left, right, Seq("k"), "ts",
      tolerance = Some("'2' HOUR"))
    assert(tight.select("right_rv").head().isNullAt(0))
  }

  test("asof join plan: one key shuffle, no join operator, no cartesian") {
    val ev = Tables.t(spark, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    val logins = ev.filter(col("event_type") === "login")
      .select("user_id", "ts", "value")
    val df = AsofJoin.asofJoin(purchases, logins, Seq("user_id"), "ts")
    val plan = planString(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"asof join degenerated to a product:\n$plan")
    assert(!plan.contains("Join"), s"asof join should be join-free:\n$plan")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 1, s"expected exactly 1 key shuffle, got $shuffles:\n$plan")
  }

  test("m4 keeps first/last/min/max per series bucket") {
    import spark.implicits._
    val df = Seq(
      (7L, ts("2024-01-01 00:10:00"), 5.0),
      (7L, ts("2024-01-01 01:20:00"), 9.0),
      (7L, ts("2024-01-01 02:30:00"), 1.0),
      (7L, ts("2024-01-01 03:40:00"), 4.0), // same 6h bucket
      (7L, ts("2024-01-01 07:00:00"), 8.0)  // next bucket
    ).toDF("user_id", "ts", "value")
    val out = Downsample.m4(df, "user_id", "ts", "value", 21600L)
      .orderBy("bucket").collect()
    assert(out.length == 2)
    val b0 = out(0)
    assert(b0.getLong(2) == 4 && b0.getDouble(3) == 1.0 && b0.getDouble(4) == 9.0
      && b0.getDouble(5) == 5.0 && b0.getDouble(6) == 4.0,
      s"unexpected M4 row: $b0")
    assert(out(1).getLong(2) == 1 && out(1).getDouble(5) == 8.0)
  }

  test("m4 plan: map-side partial aggregation, single shuffle") {
    val df = Downsample.m4(Tables.t(spark, dir, "events"),
      "user_id", "ts", "value", 21600L)
    val plan = planString(df)
    assert(plan.contains("partial_"), s"no partial aggregation:\n$plan")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 1, s"expected 1 shuffle, got $shuffles")
  }

  test("ranking metrics: identical same-label vectors rank on top -> perfect scores") {
    import spark.implicits._
    // 3 labels x 4 copies of an orthogonal basis vector each: every anchor's
    // same-label candidates have cosine 1, different-label cosine 0.
    val rows = for {
      lbl <- 0 until 3; copy <- 0 until 4
    } yield {
      val v = Array.fill(3)(0.0f); v(lbl) = 1.0f
      (lbl * 4L + copy, v.toSeq, lbl)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val m = Retrieval.rankingMetrics(df, "vec_id", "embedding", "label",
      col("vec_id") === 0, k = 3).head()
    assert(m.getLong(1) == 3)            // n_rel
    assert(m.getDouble(2) == 1.0)        // recall@3
    assert(m.getDouble(3) == 1.0)        // mrr
    assert(m.getDouble(4) == 1.0)        // ndcg: perfect ranking
  }

  test("ranking metrics DCG weight table matches the SQL oracle literal") {
    val expected = Seq(1000000L, 630930L, 500000L, 430677L, 386853L,
      356207L, 333333L, 315465L, 301030L, 289065L)
    val computed = (1 to 10).map(i =>
      math.round(1e6 / (math.log(i + 1.0) / math.log(2.0))))
    assert(computed == expected)
  }

  test("int8 quantization: codes bounded, reconstruction cosine >= 0.999, deterministic") {
    val out = Quantize.int8Symmetric(embs, "vec_id", "embedding").cache()
    val n = embs.count()
    assert(out.count() == n)
    assert(out.filter(col("n_clip") > 0).count() == 0)
    assert(out.agg(min("cos_sim")).head().getDouble(0) >= 0.999)
    // max|code| == 127 exactly (the scale spans the full int8 range)
    assert(out.select(array_max(transform(col("codes"), c => abs(c))).as("m"))
      .agg(min("m"), max("m")).head() match {
        case r => r.getLong(0) == 127L && r.getLong(1) == 127L
      })
    val again = Quantize.int8Symmetric(embs, "vec_id", "embedding")
    assert(out.select("vec_id", "scale", "cos_sim")
      .except(again.select("vec_id", "scale", "cos_sim")).count() == 0)
    out.unpersist()
  }

  test("quantization plan is shuffle-free (map-only scan transform)") {
    val df = Quantize.int8Symmetric(embs, "vec_id", "embedding")
    val plan = planString(df)
    assert(!plan.contains("Exchange"), s"quantization shuffled:\n$plan")
  }

  test("sessionize: gap starts new session, boundary gap stays in session") {
    import spark.implicits._
    import graft.operators.EventAnalytics
    val df = Seq(
      (1L, ts("2024-01-01 10:00:00")),
      (1L, ts("2024-01-01 10:30:00")), // 30m gap: same session
      (1L, ts("2024-01-01 12:00:00")), // exactly the 1h30m gap: same (> is strict)
      (1L, ts("2024-01-01 13:30:01")), // 1h30m1s: new session
      (2L, ts("2024-01-01 09:00:00"))  // other key: own session 1
    ).toDF("user_id", "ts")
    val out = EventAnalytics.sessionize(df, "user_id", "ts", gapSeconds = 5400L)
      .select("user_id", "ts", "session_seq").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    assert(out == Set(
      (1L, ts("2024-01-01 10:00:00"), 1L),
      (1L, ts("2024-01-01 10:30:00"), 1L),
      (1L, ts("2024-01-01 12:00:00"), 1L),
      (1L, ts("2024-01-01 13:30:01"), 2L),
      (2L, ts("2024-01-01 09:00:00"), 1L)))
  }

  test("funnel: strict ordering — step events before the prior step don't count") {
    import spark.implicits._
    import graft.operators.EventAnalytics
    val df = Seq(
      // u1: click BEFORE view must not satisfy step 2; later click does
      (1L, ts("2024-01-01 09:00:00"), "click"),
      (1L, ts("2024-01-01 10:00:00"), "view"),
      (1L, ts("2024-01-01 11:00:00"), "click"),
      (1L, ts("2024-01-01 12:00:00"), "purchase"),
      // u2: view only
      (2L, ts("2024-01-01 10:00:00"), "view"),
      // u3: purchase before click: depth 2
      (3L, ts("2024-01-01 10:00:00"), "view"),
      (3L, ts("2024-01-01 10:30:00"), "purchase"),
      (3L, ts("2024-01-01 11:00:00"), "click")
    ).toDF("user_id", "ts", "event_type")
    val out = EventAnalytics.funnelSteps(df, "user_id", "ts", "event_type",
      Seq("view", "click", "purchase")).collect()
      .map(r => r.getLong(0) ->
        (r.getTimestamp(1), r.getTimestamp(2), r.getTimestamp(3))).toMap
    assert(out(1L) == (ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00"),
      ts("2024-01-01 12:00:00")))
    assert(out(2L)._2 == null && out(2L)._3 == null)
    assert(out(3L)._2 == ts("2024-01-01 11:00:00") && out(3L)._3 == null,
      "purchase before the qualifying click must not complete the funnel")
  }

  test("funnel + sessionize plans: single key shuffle each") {
    import graft.operators.EventAnalytics
    val ev = Tables.t(spark, dir, "events")
    val sess = EventAnalytics.sessionize(
      ev.select("user_id", "ts", "value"), "user_id", "ts", 4 * 3600L)
    val sPlan = planString(sess)
    assert("Exchange hashpartitioning".r.findAllIn(sPlan).length == 1,
      s"sessionize should shuffle once:\n$sPlan")
    val fun = EventAnalytics.funnelSteps(ev, "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"))
    val fPlan = planString(fun)
    assert("Exchange hashpartitioning".r.findAllIn(fPlan).length == 1,
      s"funnel should reuse one key shuffle across step windows:\n$fPlan")
  }

  test("range join: containment pairs exactly once, bucket-straddling intervals included") {
    import spark.implicits._
    import graft.operators.RangeJoin
    val points = Seq(
      (1L, ts("2024-01-01 12:00:00")),
      (2L, ts("2024-01-03 00:00:00")),
      (3L, ts("2024-01-09 23:59:59"))
    ).toDF("pid", "pts")
    val ivals = Seq(
      (10L, ts("2024-01-01 00:00:00"), ts("2024-01-02 00:00:00")), // covers p1 (+p2? no)
      (11L, ts("2024-01-02 23:00:00"), ts("2024-01-05 00:00:00")), // straddles days, covers p2
      (12L, ts("2024-01-03 00:00:00"), ts("2024-01-03 00:00:00"))  // degenerate: exactly p2
    ).toDF("iid", "ivs", "ive")
    val out = RangeJoin.pointInInterval(points, "pts", ivals, "ivs", "ive", 86400L)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 10L), (2L, 11L), (2L, 12L)))
    // no duplicate pairs despite the multi-bucket interval expansion
    val n = RangeJoin.pointInInterval(points, "pts", ivals, "ivs", "ive", 86400L).count()
    assert(n == 3)
  }

  test("range join equals the naive nested-loop result on real data") {
    import graft.operators.{EventAnalytics, RangeJoin}
    val ev = Tables.t(spark, dir, "events")
    val sess = EventAnalytics.sessionize(
        ev.select("user_id", "ts"), "user_id", "ts", 4 * 3600L)
      .groupBy("user_id", "session_seq")
      .agg(min("ts").as("st"), max("ts").as("en"))
      .select("st", "en").cache()
    val errs = ev.filter(col("event_type") === "error").select("event_id", "ts").cache()
    val bucketed = RangeJoin.pointInInterval(errs, "ts", sess, "st", "en", 86400L)
      .groupBy("event_id").count()
    val naive = errs.join(sess, col("ts") >= col("st") && col("ts") <= col("en"))
      .groupBy("event_id").count()
    assert(bucketed.except(naive).count() == 0 && naive.except(bucketed).count() == 0)
    sess.unpersist(); errs.unpersist()
  }

  test("range join plan: equi-join on buckets, no nested loop or cartesian") {
    import graft.operators.RangeJoin
    val ev = Tables.t(spark, dir, "events")
    val errs = ev.filter(col("event_type") === "error").select("event_id", "ts")
    val ivals = ev.filter(col("event_type") === "purchase")
      .select(col("ts").as("st"), (col("ts") + expr("INTERVAL 2 HOUR")).as("en"))
    val plan = planString(
      RangeJoin.pointInInterval(errs, "ts", ivals, "st", "en", 7200L))
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      s"range join degenerated:\n$plan")
  }

  test("ltob: first/last kept, one point per bucket, short series pass through") {
    import graft.operators.Downsample
    val ev = Tables.t(spark, dir, "events")
    val nOut = 50
    val out = Downsample.ltob(ev, "user_id", "ts", "value", nOut).cache()
    val perUser = out.groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val inCounts = ev.groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    inCounts.foreach { case (u, n) =>
      assert(perUser(u) == math.min(n, nOut.toLong),
        s"user $u: $n points -> ${perUser(u)} kept") }
    // endpoints survive
    val firstLast = ev.groupBy("user_id")
      .agg(min("ts").as("lo"), max("ts").as("hi")).collect()
    val kept = out.select("user_id", "ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1))).toSet
    firstLast.foreach { r =>
      assert(kept.contains((r.getLong(0), r.getTimestamp(1))))
      assert(kept.contains((r.getLong(0), r.getTimestamp(2)))) }
    out.unpersist()
  }

  /** Textbook LTTB (Steinarsson 2013 §4.2) over one in-memory series —
    * an independent reference the streaming kernel must reproduce.
    * Returns selected 0-based indices in ts order. */
  private def refLttb(pts: IndexedSeq[(Long, Double)], nOut: Int): Seq[Int] = {
    val n = pts.length
    if (n <= nOut) return pts.indices
    // 0-based interior index j in [1, n-2] -> bucket 1..nOut-2 (kernel is
    // 1-based: i = j+1, so (i-2) = j-1)
    def bucket(j: Int): Int =
      1 + math.floor(((j - 1).toDouble * (nOut - 2)) / (n - 2).toDouble).toInt
    val byBucket = (1 to n - 2).groupBy(bucket).toSeq.sortBy(_._1).map(_._2)
    val selected = scala.collection.mutable.ArrayBuffer(0)
    var prev: (Double, Double) = (pts(0)._1.toDouble, pts(0)._2)
    for (k <- byBucket.indices) {
      val anchor: (Double, Double) =
        if (k == byBucket.length - 1) (pts(n - 1)._1.toDouble, pts(n - 1)._2)
        else {
          val nxt = byBucket(k + 1)
          var sx = 0.0; var sy = 0.0
          nxt.foreach { j => sx += pts(j)._1.toDouble; sy += pts(j)._2 }
          (sx / nxt.length, sy / nxt.length)
        }
      var best = -1; var bestArea = Double.NegativeInfinity
      byBucket(k).foreach { j =>
        val bx = pts(j)._1.toDouble; val by = pts(j)._2
        val area = math.abs((prev._1 - anchor._1) * (by - prev._2) -
          (prev._1 - bx) * (anchor._2 - prev._2))
        if (area > bestArea) { bestArea = area; best = j }
      }
      selected += best
      prev = (pts(best)._1.toDouble, pts(best)._2)
    }
    selected += n - 1
    selected.toSeq
  }

  test("lttb streaming kernel equals the in-memory textbook implementation") {
    import graft.operators.Downsample
    val ev = Tables.t(spark, dir, "events")
    val nOut = 50
    def us(t: java.sql.Timestamp): Long =
      (t.getTime / 1000L) * 1000000L + t.getNanos / 1000L
    val out = Downsample.lttb(ev, "user_id", "ts", "value", nOut)
      .collect()
      .map(r => (r.getLong(0), us(r.getTimestamp(1)), r.getDouble(2)))
      .groupBy(_._1)
    val series = ev.select("user_id", "ts", "value").collect()
      .map(r => (r.getLong(0), us(r.getTimestamp(1)), r.getDouble(2)))
      .groupBy(_._1)
    assert(series.nonEmpty && series.exists(_._2.length > nOut),
      "fixture must exercise the downsampling path")
    series.foreach { case (u, rows) =>
      val pts = rows.sortBy(_._2).map(t => (t._2, t._3)).toIndexedSeq
      val want = refLttb(pts, nOut).map(pts(_)).toSeq
      val got = out(u).sortBy(_._2).map(t => (t._2, t._3)).toSeq
      assert(got == want, s"user $u kernel/reference divergence")
    }
  }

  test("lttb plan: no series materialization (no collect_list / object agg)") {
    import graft.operators.Downsample
    val plan = planString(Downsample.lttb(
      Tables.t(spark, dir, "events"), "user_id", "ts", "value", 50))
    assert(!plan.contains("collect_list") && !plan.contains("ObjectHashAggregate"),
      s"lttb materializes series:\n$plan")
  }

  test("salted join is row-identical to the plain join and spreads the hot key") {
    import graft.operators.SaltedJoin
    val li = Tables.t(spark, dir, "lineitem")
    val dim = Tables.t(spark, dir, "part")
      .select(col("p_partkey").as("l_partkey"), col("p_brand"))
    val salted = SaltedJoin.join(li, dim, Seq("l_partkey"), "l_orderkey", 8)
      .select("l_orderkey", "l_linenumber", "l_partkey", "p_brand")
    val plain = li.join(dim, "l_partkey")
      .select("l_orderkey", "l_linenumber", "l_partkey", "p_brand")
    assert(salted.count() == plain.count())
    assert(salted.except(plain).count() == 0 && plain.except(salted).count() == 0)
    // determinism under re-execution (the rand()-salt failure mode)
    val again = SaltedJoin.join(li, dim, Seq("l_partkey"), "l_orderkey", 8)
      .select("l_orderkey", "l_linenumber", "l_partkey", "p_brand")
    assert(salted.except(again).count() == 0)
  }

  test("sketch rollup: merged daily sketches == direct whole-range sketch, <=2% error") {
    import graft.operators.SketchRollup
    val ev = Tables.t(spark, dir, "events")
    val rollup = SketchRollup.build(ev, Seq("event_type"), "ts", 86400L, "user_id")
      .cache()
    val merged = SketchRollup.estimate(rollup, Seq("event_type")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // merge identity: union of per-bucket sketches == sketch of the union
    val direct = ev.groupBy("event_type")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12)))
        .as("d")).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged == direct,
      s"sketch merge must be lossless: $merged vs $direct")
    // error contract vs exact distinct counts
    val exact = ev.groupBy("event_type").agg(countDistinct("user_id").as("e"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, e) =>
      assert(math.abs(merged(k) - e).toDouble / e <= 0.02,
        s"$k: estimate ${merged(k)} vs exact $e") }
    // a coarser window (first 10 days) from the same rollup
    val firstDays = SketchRollup.estimate(rollup, Seq("event_type"),
      Some(col("bucket") < lit(java.sql.Timestamp.valueOf("2024-01-11 00:00:00"))))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exactFirst = ev.filter(col("ts") < lit(ts("2024-01-11 00:00:00")))
      .groupBy("event_type").agg(countDistinct("user_id").as("e"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exactFirst.foreach { case (k, e) =>
      assert(math.abs(firstDays(k) - e).toDouble / e <= 0.02) }
    rollup.unpersist()
  }

  test("series stats: MAD flags the planted outlier; shifted series peaks at its lag") {
    import graft.operators.SeriesStats
    import spark.implicits._
    // 100 well-behaved points plus one gross outlier
    val vals = (1 to 100).map(i => ("s", i.toLong, 10.0 + (i % 7))) :+ (("s", 101L, 500.0))
    val df = vals.toDF("k", "id", "v")
    val flagged = SeriesStats.madOutliers(df, Seq("k"), "v").select("id")
      .as[Long].collect().toSet
    assert(flagged == Set(101L), s"expected only the planted outlier: $flagged")
    // plan: stats joins broadcast, no cartesian product
    val plan = SeriesStats.madOutliers(df, Seq("k"), "v")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("CartesianProduct"),
      s"MAD stats must broadcast:\n$plan")
    // lag correlation: series b is exactly series a shifted one 6h bucket
    val grainUs = 21600000000L
    val base = (0 until 48).map(i => (i, math.sin(i / 3.0) * 10 + 20))
    val rows =
      base.map { case (i, v) => ("a", new java.sql.Timestamp(i * grainUs / 1000 + 1000), v) } ++
      base.map { case (i, v) => ("b", new java.sql.Timestamp((i + 1) * grainUs / 1000 + 1000), v) }
    val ts2 = rows.toDF("series", "t", "v")
    val r = SeriesStats.lagCorrelation(
      ts2, "series", "a", "b", "t", "v", grainUs, maxLag = 2)
      .collect().map(row => row.getInt(0) -> row.getDouble(2)).toMap
    assert(r(1) == 1.0, s"shift-by-1 series must correlate perfectly at lag 1: $r")
    assert(r(0) < 1.0 && r(2) < 1.0, s"off-lags must not be perfect: $r")
    // alert rule: fires only after k consecutive over-threshold buckets;
    // a missing bucket resets the streak (Prometheus `for` semantics)
    val g6 = 21600000000L
    def pt(i: Int, v: Double) =
      ("s", new java.sql.Timestamp(i * g6 / 1000 + 1000), v)
    // buckets 0,1,2 over; 3 missing; 4,5 over (streak broken by the gap)
    val alertDf = Seq(pt(0, 99.0), pt(1, 99.0), pt(2, 99.0),
      pt(4, 99.0), pt(5, 99.0)).toDF("series", "t", "v")
    val fired = SeriesStats.alertRule(
      alertDf, "series", "t", "v", g6, threshold = 50.0, forSteps = 3)
      .collect().map(_.getTimestamp(1).getTime / (g6 / 1000)).toSet
    assert(fired == Set(2L), s"only bucket 2 completes a 3-streak: $fired")
    // heatmap: mass conservation, bin bounds, min/max land in edge bins
    val ev = Tables.t(spark, dir, "events")
    val hm = SeriesStats.heatmap(ev, "ts", "value", 21600000000L, 20).cache()
    assert(hm.agg(sum("n")).head().getLong(0) == ev.count(),
      "every point lands in exactly one cell")
    val (minVb, maxVb) = hm.agg(min("vb"), max("vb")).head() match {
      case row => (row.getLong(0), row.getLong(1)) }
    assert(minVb >= 0 && maxVb <= 19, s"bins out of range: $minVb..$maxVb")
    assert(minVb == 0 && maxVb == 19, "extreme values must hit the edge bins")
    hm.unpersist()
  }

  test("freq rollup: lossless at full capacity, MG bound when undersized") {
    import graft.operators.FreqRollup
    import graft.functions.MisraGries
    // kernel: zipf-ish stream, k=8 — every estimate obeys
    // true - N/(k+1) <= est <= true, and the heavy hitter survives
    val s8 = new MisraGries.Summary(8)
    val stream = (0 until 3000).map { i =>
      if (i % 3 == 0) "hot" else s"cold_${i % 40}" }
    stream.foreach(s8.add(_))
    val truth = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bound = stream.size / 9.0
    s8.counts.foreach { case (item, est) =>
      assert(est <= truth(item) && est >= truth(item) - bound,
        s"$item: est $est vs true ${truth(item)} (bound $bound)") }
    assert(s8.counts.contains("hot"), "heavy hitter must survive")
    // merge keeps the bound: split the stream in 3, merge the summaries
    val parts = stream.grouped(1000).map { chunk =>
      val p = new MisraGries.Summary(8); chunk.foreach(p.add(_)); p }.toSeq
    val merged = new MisraGries.Summary(8)
    parts.foreach(merged.mergeIn)
    merged.counts.foreach { case (item, est) =>
      assert(est <= truth(item) && est >= truth(item) - bound,
        s"merged $item: est $est vs true ${truth(item)}") }
    assert(merged.counts.contains("hot"))
    // distributed, capacity >= universe: rollup top-k == exact top-k
    val ev = Tables.t(spark, dir, "events")
    val rollup = FreqRollup.build(
      ev, Seq("event_type"), "ts", 86400L, "user_id", k = 100000)
    val got = FreqRollup.topK(rollup, Seq("event_type"), 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val exact = ev.groupBy(col("event_type"), col("user_id").cast("string").as("item"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("event_type")
          .orderBy(col("n").desc, col("item"))))
      .filter(col("rk") <= 3).drop("rk")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == exact, s"lossless-capacity top-k must be exact:\n$got\nvs\n$exact")
  }

  test("quantile rollup: merged t-digests hit exact ranks within 1.5%") {
    import graft.operators.QuantileRollup
    // digest kernel sanity: uniform 0..9999, every decile within 1% rank
    val d = new graft.functions.TDigestSketch.Digest(100.0)
    (0 until 10000).foreach(i => d.add(((i * 7919) % 10000).toDouble))
    (1 to 9).foreach { k =>
      val est = d.quantile(k / 10.0)
      assert(math.abs(est / 9999.0 - k / 10.0) <= 0.01,
        s"uniform q=${k / 10.0}: $est")
    }
    assert(d.quantile(0.0) == 0.0 && d.quantile(1.0) == 9999.0,
      "extremes must anchor at tracked min/max")
    // distributed: daily rollup -> merged whole-range quantiles
    val ev = Tables.t(spark, dir, "events")
    val rollup = QuantileRollup.build(
      ev, Seq("event_type"), "ts", 86400L, "value").cache()
    val est = QuantileRollup.quantiles(
      rollup, Seq("event_type"), Seq(0.5, 0.95, 0.99)).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    val byType = ev.select("event_type", "value").collect()
      .groupBy(_.getString(0)).map { case (k, rows) =>
        k -> rows.map(_.getDouble(1)).sorted }
    def rankOf(sorted: Array[Double], v: Double): Double =
      sorted.count(_ <= v).toDouble / sorted.length
    byType.foreach { case (k, sorted) =>
      val (p50, p95, p99) = est(k)
      Seq(0.5 -> p50, 0.95 -> p95, 0.99 -> p99).foreach { case (q, v) =>
        assert(math.abs(rankOf(sorted, v) - q) <= 0.015,
          s"$k q=$q: est $v has rank ${rankOf(sorted, v)}") }
    }
    // coarser window (first 10 days) answered from the SAME rollup
    val first = QuantileRollup.quantiles(rollup, Seq("event_type"), Seq(0.95),
      Some(col("bucket") < lit(java.sql.Timestamp.valueOf("2024-01-11 00:00:00"))))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val firstSorted = ev
      .filter(col("ts") < lit(ts("2024-01-11 00:00:00")))
      .select("event_type", "value").collect()
      .groupBy(_.getString(0)).map { case (k, rows) =>
        k -> rows.map(_.getDouble(1)).sorted }
    firstSorted.foreach { case (k, sorted) =>
      assert(math.abs(rankOf(sorted, first(k)) - 0.95) <= 0.015,
        s"windowed $k: ${first(k)} rank ${rankOf(sorted, first(k))}") }
    // SQL surface parity
    graft.functions.GraftFunctions.register(spark)
    ev.createOrReplaceTempView("__qr_events")
    val sqlRow = spark.sql(
      """SELECT tdigest_quantile(tdigest_merge(s), 0.5) FROM
        |  (SELECT event_type, tdigest_agg(value) AS s
        |   FROM __qr_events GROUP BY 1)""".stripMargin).collect().head
    assert(!sqlRow.isNullAt(0), "SQL surface must produce an estimate")
    rollup.unpersist()
  }

  test("rollup rewrite: coarsest serving rollup wins; finer remains the fallback") {
    import graft.plans.Rollups
    val ev = Tables.t(spark, dir, "events")
    val grain6h = 21600000000L; val grain1d = 86400000000L
    def mkRollup(g: Long) = ev.groupBy(col("event_type"),
        timestamp_micros((floor(unix_micros(col("ts")) / g)
          .cast("long") * g)).as("bucket"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .localCheckpoint()
    val r6 = mkRollup(grain6h); val r1d = mkRollup(grain1d)
    var calls6 = 0; var calls1d = 0
    def reg(name: String, g: Long, df: org.apache.spark.sql.DataFrame,
        bump: () => Unit) =
      Rollups.register(spark, name, Rollups.RollupSpec(
        rawPathContains = s"$dir/events.parquet",
        tsCol = "ts", grainUs = g, tags = Set("event_type"),
        bucketCol = "bucket", countCol = Some("n"),
        sums = Map("value" -> "sum_value"), mins = Map.empty, maxs = Map.empty,
        rollup = () => { bump(); df }))
    reg("spec_r6", grain6h, r6, () => calls6 += 1)
    reg("spec_r1d", grain1d, r1d, () => calls1d += 1)
    try {
      def query(g: Long) = ev.groupBy(col("event_type"),
          timestamp_micros((floor(unix_micros(col("ts")) / g)
            .cast("long") * g)).as("b"))
        .agg(count(lit(1)).as("n"))
      // 1d-bucket query: both could serve; the 1d rollup must be chosen
      val p1 = query(grain1d).queryExecution.optimizedPlan.toString
      assert(p1.contains("LogicalRDD") && calls1d > 0 && calls6 == 0,
        s"1d query must use the 1d rollup (1d calls=$calls1d, 6h calls=$calls6)")
      // 6h-bucket query: 1d cannot serve (grain does not divide), 6h does
      calls6 = 0; calls1d = 0
      val p2 = query(grain6h).queryExecution.optimizedPlan.toString
      assert(p2.contains("LogicalRDD") && calls6 > 0 && calls1d == 0,
        s"6h query must fall back to the 6h rollup ($calls6/$calls1d)")
    } finally { Rollups.unregister("spec_r6"); Rollups.unregister("spec_r1d") }
  }

  test("rollup rewrite: serves compatible aggregates from the rollup, bails otherwise") {
    import graft.plans.Rollups
    val ev = Tables.t(spark, dir, "events")
    val grainUs = 21600000000L; val dayUs = 86400000000L
    def bucket(g: Long) = timestamp_micros(
      (floor(unix_micros(col("ts")) / g).cast("long") * g)).as("day")
    def query(g: Long) = ev.groupBy(col("event_type"), bucket(g))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"),
        min("value").as("v_min"), max("value").as("v_max"))

    val baseline = query(dayUs).collect().toSet // registry empty: raw plan
    val rollup = ev.groupBy(col("event_type"),
        timestamp_micros((floor(unix_micros(col("ts")) / grainUs)
          .cast("long") * grainUs)).as("bucket"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"),
        min("value").as("min_value"), max("value").as("max_value"))
      .localCheckpoint()
    Rollups.register(spark, "spec_rollup", Rollups.RollupSpec(
      rawPathContains = s"$dir/events.parquet",
      tsCol = "ts", grainUs = grainUs, tags = Set("event_type"),
      bucketCol = "bucket", countCol = Some("n"),
      sums = Map("value" -> "sum_value"), mins = Map("value" -> "min_value"),
      maxs = Map("value" -> "max_value"), rollup = () => rollup))
    try {
      val rewritten = query(dayUs)
      val plan = rewritten.queryExecution.optimizedPlan.toString
      assert(!plan.contains("parquet") && plan.contains("LogicalRDD"),
        s"rewrite did not fire — still scanning raw:\n$plan")
      assert(rewritten.collect().toSet == baseline,
        "rollup-served results differ from raw")
      // incompatible grain (5m is not a multiple of 6h): stays on raw
      val p5m = query(300000000L).queryExecution.optimizedPlan.toString
      assert(p5m.contains("parquet"), "must not rewrite incompatible grain")
      // a non-translatable filter below the aggregate: stays on raw
      val pf = ev.filter(col("value") > 100)
        .groupBy(col("event_type"), bucket(dayUs))
        .agg(count(lit(1)).as("n"))
        .queryExecution.optimizedPlan.toString
      assert(pf.contains("parquet"), "must not rewrite a value filter")
      // grain-aligned half-open time range + tag IN: rewrite fires and
      // matches the raw answer (bounds 6h-aligned, query grain 1d)
      val lo = 1704434400000000L; val hi = 1705773600000000L
      def filtered(d: org.apache.spark.sql.DataFrame) = d
        .filter(col("ts") >= timestamp_micros(lit(lo)) &&
          col("ts") < timestamp_micros(lit(hi)) &&
          col("event_type").isin("click", "view"))
        .groupBy(col("event_type"), bucket(dayUs))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      Rollups.unregister("spec_rollup")
      val filteredBaseline = filtered(ev).collect().toSet
      Rollups.register(spark, "spec_rollup", Rollups.RollupSpec(
        rawPathContains = s"$dir/events.parquet",
        tsCol = "ts", grainUs = grainUs, tags = Set("event_type"),
        bucketCol = "bucket", countCol = Some("n"),
        sums = Map("value" -> "sum_value"), mins = Map("value" -> "min_value"),
        maxs = Map("value" -> "max_value"), rollup = () => rollup))
      val fq = filtered(ev)
      val fqPlan = fq.queryExecution.optimizedPlan.toString
      assert(!fqPlan.contains("parquet") && fqPlan.contains("LogicalRDD"),
        s"aligned-filter rewrite did not fire:\n$fqPlan")
      assert(fq.collect().toSet == filteredBaseline,
        "filtered rollup-served results differ from raw")
      // misaligned lower bound (not a 6h multiple): stays on raw
      val pm = ev.filter(col("ts") >= timestamp_micros(lit(lo + 60000000L)))
        .groupBy(col("event_type"), bucket(dayUs))
        .agg(count(lit(1)).as("n"))
        .queryExecution.optimizedPlan.toString
      assert(pm.contains("parquet"), "must not rewrite a misaligned bound")
      // strict > even when aligned (splits the boundary bucket): stays raw
      val pg = ev.filter(col("ts") > timestamp_micros(lit(lo)))
        .groupBy(col("event_type"), bucket(dayUs))
        .agg(count(lit(1)).as("n"))
        .queryExecution.optimizedPlan.toString
      assert(pg.contains("parquet"), "must not rewrite a strict bound")
      // unsupported aggregate (avg): stays on raw
      val pa = ev.groupBy(col("event_type"), bucket(dayUs))
        .agg(avg("value").as("a"))
        .queryExecution.optimizedPlan.toString
      assert(pa.contains("parquet"), "must not rewrite avg")
      // non-tag grouping column: stays on raw
      val pu = ev.groupBy(col("user_id"), bucket(dayUs))
        .agg(count(lit(1)).as("n"))
        .queryExecution.optimizedPlan.toString
      assert(pu.contains("parquet"), "must not rewrite unknown tags")
    } finally Rollups.unregister("spec_rollup")
  }

  test("rollup rewrite: serves hll_sketch_estimate bit-exactly from sketch rollups") {
    import graft.plans.Rollups
    val ev = Tables.t(spark, dir, "events")
    val grainUs = 21600000000L; val dayUs = 86400000000L
    def query(lgK: Int) = ev
      .groupBy(col("event_type"), timestamp_micros(
        (floor(unix_micros(col("ts")) / dayUs).cast("long") * dayUs)).as("day"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(lgK)))
        .as("approx_users"))
    val baseline = query(12).collect().toSet // registry empty: raw plan
    val sk = graft.operators.SketchRollup.build(
      ev, Seq("event_type"), "ts", bucketSeconds = 21600L,
      distinctCol = "user_id", lgConfigK = 12).localCheckpoint()
    Rollups.register(spark, "sketch_spec", Rollups.RollupSpec(
      rawPathContains = s"$dir/events.parquet",
      tsCol = "ts", grainUs = grainUs, tags = Set("event_type"),
      bucketCol = "bucket", countCol = None,
      sums = Map.empty, mins = Map.empty, maxs = Map.empty,
      rollup = () => sk, hlls = Map("user_id" -> ("sketch", 12))))
    try {
      val served = query(12)
      val plan = served.queryExecution.optimizedPlan.toString
      assert(!plan.contains("parquet") && plan.contains("LogicalRDD"),
        s"sketch rewrite did not fire:\n$plan")
      // union of per-bucket sketches IS the sketch of the union: the
      // served estimates must equal the raw-scan estimates BIT-exactly
      assert(served.collect().toSet == baseline,
        "sketch-rollup-served estimates differ from raw")
      // different lgK: a mixed-precision union would change the estimate —
      // must stay on the raw plan
      val pk = query(11).queryExecution.optimizedPlan.toString
      assert(pk.contains("parquet"), "must not serve a different lgK")
    } finally Rollups.unregister("sketch_spec")
  }

  test("retention cohorts: offsets non-negative, cohort-0 count equals cohort size") {
    import graft.operators.EventAnalytics
    val ev = Tables.t(spark, dir, "events")
    val out = EventAnalytics.retentionCohorts(ev, "user_id", "ts").cache()
    assert(out.filter(col("period_offset") < 0).count() == 0)
    // every user appears in their cohort's offset-0 row (first event itself)
    val zero = out.filter(col("period_offset") === 0)
      .agg(sum("n_users")).head().getLong(0)
    val users = ev.select(countDistinct("user_id")).head().getLong(0)
    assert(zero == users)
    out.unpersist()
  }

  test("interval merge: overlap and touch collapse, gaps split, single shuffle") {
    import graft.operators.EventAnalytics
    import spark.implicits._
    val iv = Seq(
      ("a", 1L, 5L), ("a", 4L, 8L),   // overlap -> one span
      ("a", 8L, 10L),                 // touching (start == running max end) merges
      ("a", 12L, 14L),                // gap -> new span
      ("b", 3L, 4L)
    ).toDF("k", "s", "e")
    val out = EventAnalytics.mergeIntervals(iv, "k", "s", "e")
    val rows = out.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(rows == Set(("a", 1L, 10L, 3L), ("a", 12L, 14L, 1L), ("b", 3L, 4L, 1L)))
    val plan = planString(out)
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"interval merge should be one key shuffle:\n$plan")
  }

  test("mean-shift changepoints: planted level shift detected exactly once") {
    import graft.operators.SeriesStats
    import spark.implicits._
    // 15 points at 10.0 then 15 points at 50.0, 1s apart
    val pts = (0 until 30).map { i =>
      ("s", ts("2024-01-01 00:00:00").getTime / 1000 + i,
        if (i < 15) 10.0 else 50.0)
    }.map { case (k, sec, v) =>
      (k, new java.sql.Timestamp(sec * 1000), sec, v)
    }.toDF("k", "t", "id", "v")
    val out = SeriesStats.meanShiftChangepoints(
      pts, "k", "t", "id", "v", k = 5, threshold = 35.0).collect()
    assert(out.length == 1)
    // the detection lands on the first shifted point, delta = 5*(50-10)*1000
    assert(out.head.getLong(3) == 200000L)
  }

  test("seasonal decomposition: pure seasonal series -> zero residual, exact indexes") {
    import graft.operators.SeriesStats
    import spark.implicits._
    val pattern = (0 until 24).map(h => 10.0 + (h % 6) * 3.0) // mean 17.5
    val pts = (0 until 24 * 5).map { i =>
      (new java.sql.Timestamp(i * 3600L * 1000), pattern(i % 24))
    }.toDF("t", "v")
    val out = SeriesStats.seasonalDecompose(
      pts, "t", "v", grainUs = 3600000000L, period = 24).cache()
    // interior buckets only (centered 2x24 window)
    assert(out.count() == 24 * 5 - 24)
    assert(out.filter(col("residual_1e4") =!= 0L).count() == 0,
      "perfectly periodic series must decompose with zero residual")
    // trend is the flat seasonal mean: 17.5 -> milli 17500 -> 1e4-scaled
    assert(out.select(countDistinct(col("trend_1e4"))).head().getLong(0) == 1)
    assert(out.select(first(col("trend_1e4"))).head().getLong(0) == 175000000L)
    // seasonal index for phase of hour 0: (10.0 - 17.5) * 1000 * 1e4
    val p0 = out.filter(col("bucket") === ts("1970-01-02 00:00:00"))
      .select("seasonal_1e4").head().getLong(0)
    assert(p0 == -75000000L)
    out.unpersist()
  }

  test("burn-rate alerts: RANGE windows skip gaps; both windows must burn") {
    import spark.implicits._
    import graft.operators.SeriesStats
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // buckets (60s grain): t=0 (2 events, both errors), t=60 (2 ok),
    // t=240 (1 error) — the 120s/180s gap is the rows-vs-range trap
    val events = Seq(
      ("svc", t(0), true), ("svc", t(30), true),
      ("svc", t(60), false), ("svc", t(90), false),
      ("svc", t(240), true)
    ).toDF("k", "ts", "err")
    val out = SeriesStats.burnRateAlerts(events, "k", "ts",
      errCond = col("err"), grainUs = 60000000L,
      shortBuckets = 2, longBuckets = 4, thrNum = 1L, thrDen = 2L)
      .orderBy("bucket")
      .collect().map(r => (r.getTimestamp(1).getTime / 1000,
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6)))
    assert(out.toSeq == Seq(
      (0L, 2L, 2L, 2L, 2L, true),     // 100% burn in both windows
      (60L, 2L, 4L, 2L, 4L, true),    // 50% in both == threshold
      // short window [180,240] sees ONLY bucket 240 (gap skipped): 1/1;
      // long window [60,240] sees buckets 60+240: 1/3 < 50% -> no alert
      (240L, 1L, 1L, 1L, 3L, false)))
  }

  test("holt backtest: hand-computed one-step errors; constant trend -> zero error") {
    import spark.implicits._
    import graft.operators.SeriesStats
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // series 'lin' is perfectly linear (10, 20, 30, 40): after seeding
    // l=20, b=10 every forecast is exact -> all errors 0.
    // series 'jmp': 10, 10, 20 -> seed l=10, b=0; err at 3rd = 20-10 = 10.
    val events = Seq(
      ("lin", t(0), 10.0), ("lin", t(60), 20.0),
      ("lin", t(120), 30.0), ("lin", t(180), 40.0),
      ("jmp", t(0), 10.0), ("jmp", t(60), 10.0), ("jmp", t(120), 20.0)
    ).toDF("k", "ts", "v")
    val out = SeriesStats.holtBacktest(events, "k", "ts", "v",
      grainUs = 60000000L)
      .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime / 1000,
        r.getLong(2))).sortBy(x => (x._1, x._2))
    assert(out.toSeq == Seq(
      ("jmp", 120L, 10000000L),
      ("lin", 120L, 0L), ("lin", 180L, 0L)))
  }

  test("zorder: tight file spans on BOTH dims where a linear sort has one") {
    import spark.implicits._
    import graft.operators.ZOrder
    // two independent uniform dims; any 1-D sort leaves the other dim's
    // per-file span at ~full range, z-order shrinks both
    val rows = (0 until 20000).map { i =>
      (i.toLong, (i * 2654435761L % 10007L).toDouble,
        (i * 40503L % 9973L).toDouble)
    }.toDF("id", "x", "y")
    val nFiles = 16

    val zDir = tmpDir("spec-z")
    ZOrder.write(rows, Seq("x", "y"), zDir, bits = 4, nFiles = nFiles)
    val sDir = tmpDir("spec-s")
    rows.repartitionByRange(nFiles, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(sDir)

    def avgSpan(dir: String, dim: String, range: Double): Double = {
      val spans = ZOrder.fileSpans(spark, dir, dim)
        .select(((col("max_v") - col("min_v")) / range).as("f"))
        .agg(avg("f")).head().getDouble(0)
      spans
    }
    // nothing lost in the rewrite
    assert(spark.read.parquet(zDir).count() == 20000)
    val zx = avgSpan(zDir, "x", 10007.0); val zy = avgSpan(zDir, "y", 9973.0)
    val sx = avgSpan(sDir, "x", 10007.0); val sy = avgSpan(sDir, "y", 9973.0)
    // linear sort: leading dim near-perfect, trailing dim useless
    assert(sx < 0.15, s"sorted leading-dim span $sx")
    assert(sy > 0.8, s"sorted trailing-dim span $sy")
    // z-order: BOTH dims well under the trailing-dim baseline; 16 files
    // on a 16x16 grid is ~a 4x4 block per file => ~0.25 + quantile fuzz
    assert(zx < 0.5, s"zorder x span $zx")
    assert(zy < 0.5, s"zorder y span $zy")
  }

  test("counter rollup: reset-adjusted increases, additive coarse serving") {
    import graft.operators.CounterRollup
    import spark.implicits._
    // series s, 10s buckets: b0 has 10,25; b1 has 40 then RESET to 5; b2 has 30
    val pts = Seq(
      (0L, 1L, 10L), (4000L, 2L, 25L),
      (11000L, 3L, 40L), (15000L, 4L, 5L),
      (21000L, 5L, 30L)
    ).map { case (ms, id, c) => ("s", new java.sql.Timestamp(ms), id, c) }
      .toDF("k", "t", "id", "c")
    val fine = CounterRollup.rollup(pts, "k", "t", "id", "c",
      grainUs = 10000000L)
    val f = fine.collect().map(r => r.getTimestamp(1).getTime / 10000 ->
      (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    // b0: first point contributes 0, then +15; b1: +15 then reset (+5); b2: +25
    assert(f(0L) == ((2L, 10L, 25L, 0L, 15L)), f.toString)
    assert(f(1L) == ((2L, 40L, 5L, 1L, 20L)), f.toString)
    assert(f(2L) == ((1L, 30L, 30L, 0L, 25L)), f.toString)

    // one 30s coarse bucket: everything sums, envelope first/last respected
    val c = CounterRollup.serveCoarse(fine, "k", coarseGrainUs = 30000000L)
      .head()
    assert((c.getLong(2), c.getLong(3), c.getLong(4), c.getLong(5),
      c.getLong(6)) == ((5L, 10L, 30L, 1L, 60L)))
    assert(c.getLong(7) == 60L * 1000000L / 30L) // increase/sec scaled 1e6
  }

  test("top paths: windows per key, truncated tails dropped, tie order") {
    import graft.operators.EventAnalytics
    import spark.implicits._
    val ev = Seq(
      (1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "c"), (1L, 4L, "a"),
      (2L, 1L, "a"), (2L, 2L, "b"), (2L, 3L, "c"),
      (3L, 1L, "x"), (3L, 2L, "y") // too short for k=3: no path
    ).map { case (u, id, t) =>
      (u, new java.sql.Timestamp(id * 1000L), id, t)
    }.toDF("u", "t", "id", "typ")
    val got = EventAnalytics.topPaths(ev, "u", "t", "id", "typ", k = 3, topN = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("a>b>c", 2L), ("b>c>a", 1L)), got.toString)
  }

  test("time-weighted average: LOCF areas, single-point and tied-ts buckets") {
    import graft.operators.SeriesStats
    import spark.implicits._
    // 10s buckets. Bucket 0: v=10 holds 2s, v=20 holds 4s over a 6s span
    // -> twa = 100/6 = 16.6666; bucket 1: single point -> its value;
    // bucket 2: both samples share one timestamp -> plain mean.
    val rows = Seq(
      ("a", 0L, 1L, 10.0), ("a", 2000L, 2L, 20.0), ("a", 6000L, 3L, 40.0),
      ("a", 12000L, 4L, 7.0),
      ("a", 24000L, 5L, 1.0), ("a", 24000L, 6L, 3.0)
    ).map { case (k, ms, id, v) => (k, new java.sql.Timestamp(ms), id, v) }
      .toDF("k", "t", "id", "v")
    val out = SeriesStats.timeWeightedAvg(rows, "k", "t", "id", "v",
      grainUs = 10000000L)
    val got = out.collect().map(r =>
      (r.getTimestamp(1).getTime, r.getLong(2), r.getLong(3))).toSet
    assert(got == Set((0L, 3L, 166666L), (10000L, 1L, 70000L),
      (20000L, 2L, 20000L)), got.toString)
    val plan = planString(out)
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"twa should be one key shuffle:\n$plan")
  }

  test("cardinality report: active / first-seen / cumulative per bucket") {
    import graft.operators.SeriesStats
    import spark.implicits._
    // hour buckets; series = (typ, uid). h0: A,B  h1: B,C  h2: A
    val h = 3600000L
    val rows = Seq(
      (0L, "t1", 1L), (1000L, "t2", 1L),
      (h + 1L, "t2", 1L), (h + 2L, "t3", 1L),
      (2 * h + 1L, "t1", 1L)
    ).map { case (ms, typ, uid) => (new java.sql.Timestamp(ms), typ, uid) }
      .toDF("t", "typ", "uid")
    val got = SeriesStats.cardinalityReport(rows, Seq("typ", "uid"), "t",
        grainUs = 3600000000L)
      .collect().map(r => (r.getTimestamp(0).getTime / h,
        r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set((0L, 2L, 2L, 2L), (1L, 2L, 1L, 3L), (2L, 1L, 0L, 3L)),
      got.toString)
  }

  test("seasonal anomalies: planted spike flagged, clean periodic buckets aren't") {
    import graft.operators.SeriesStats
    import spark.implicits._
    // strict period-4 pattern over 1s buckets, one +500 spike at bucket 21
    val rows = (0 until 48).map { b =>
      val v = Seq(10.0, 20.0, 30.0, 40.0)(b % 4) + (if (b == 21) 500.0 else 0.0)
      (new java.sql.Timestamp(b * 1000L), v)
    }.toDF("t", "v")
    val dec = SeriesStats.seasonalDecompose(rows, "t", "v",
      grainUs = 1000000L, period = 4)
    // exact algebra (period=4 ⇒ ±2 window, spike weight 2/8 for direct
    // neighbours): spike residual = +3.409e9, worst pollution −1.136e9 —
    // a 2e9 threshold isolates exactly the spike bucket
    val anom = SeriesStats.seasonalAnomalies(rows, "t", "v",
      grainUs = 1000000L, period = 4, thr1e4 = 2000000000L)
    val flagged = anom.collect().map(_.getTimestamp(0).getTime / 1000).toSet
    assert(flagged == Set(21L), flagged.toString)
    // anomalies are exactly the decompose rows clearing the threshold
    val expect = dec.filter(abs(col("residual_1e4")) > 2000000000L).count()
    assert(anom.count() == expect)
  }

  test("series gaps: hand-computed top-k, zero-gap dupes excluded, per-series rank") {
    import graft.operators.SeriesStats
    import spark.implicits._
    // series a: points at 0s, 10s, 10s (dup ts), 70s, 100s -> gaps 10, 60, 30
    // series b: points at 0s, 5s -> gap 5
    val rows = Seq(
      ("a", 0L), ("a", 10L), ("a", 10L), ("a", 70L), ("a", 100L),
      ("b", 0L), ("b", 5L)
    ).map { case (k, sec) => (k, new java.sql.Timestamp(sec * 1000L), 1.0) }
      .toDF("k", "t", "v")
    val got = SeriesStats.seriesGaps(rows, "k", "t", "v", topK = 2)
      .select("series", "gap_us").as[(String, Long)].collect().toSet
    // a keeps its 2 largest gaps (60s, 30s); the 10s gap is cut by top-2;
    // the 0-gap duplicate never appears; b keeps its single 5s gap
    assert(got == Set(("a", 60000000L), ("a", 30000000L), ("b", 5000000L)), got.toString)
  }

  test("corpus stats: vocab coverage + tfidf + pmi on a hand-computed corpus") {
    import graft.pipeline.CorpusStats
    import spark.implicits._
    val docs = Seq(
      (1L, "x x x y"),     // tf(x)=3 tf(y)=1
      (2L, "x y y z"),     // z appears only here
      (3L, "x y")
    ).toDF("doc_id", "text")
    // freq: x=5, y=4, z=1 -> top-2 vocab {x, y}; OOV only z in doc 2
    val cov = CorpusStats.vocabCoverage(docs, "doc_id", "text", vocabSize = 2)
      .select("doc_id", "n_tokens", "n_oov", "oov_bp")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(cov(1L) == (4L, 0L, 0L))
    assert(cov(2L) == (4L, 1L, 2500L))
    assert(cov(3L) == (2L, 0L, 0L))
    // df: x=3, y=3, z=1. doc2 scores: z 1/1=1.0 > y 2/3 > x 1/3
    val top = CorpusStats.tfidfTopTerms(docs, "doc_id", "text", k = 2)
      .filter(col("doc_id") === 2L).orderBy("rank")
      .select("term", "tf", "df", "score_ppm")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(top == Seq(("z", 1L, 1L, 1000000L), ("y", 2L, 3L, 666666L)), top.toString)
    // bigrams with minCount=2: (x,x) c=2, (x,y) c=3; T=10, cx=5, cy=4
    // arg(x,y) = 3*10/20 = 1.5 ; arg(x,x) = 2*10/25 = 0.8
    val pmi = CorpusStats.pmiCollocations(docs, "text", minCount = 2, topN = 10)
      .select("x", "y", "cxy", "pmi_ppm").as[(String, String, Long, Long)]
      .collect().toSeq
    assert(pmi == Seq(("x", "y", 3L, 1500000L), ("x", "x", 2L, 800000L)), pmi.toString)
  }

  test("theta sketches: exact below k, <=3% estimate above, merge == direct") {
    import graft.functions._
    import spark.implicits._
    // exact mode: 200 distinct < k=4096 -> set ops are exact
    val a = (0 until 200).map(i => ("a", i.toLong)).toDF("g", "u")
    val b = (100 until 300).map(i => ("b", i.toLong)).toDF("g", "u")
    val rep = graft.operators.ThetaOps.setReport(
      a.union(b), "g", "u", Seq(("a", "b")), lgK = 12)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(rep(("a", "distinct")) == 200L)
    assert(rep(("a", "intersect_b")) == 100L)
    assert(rep(("a", "union_b")) == 300L)
    assert(rep(("a", "diff_b")) == 100L)
    // estimate mode: 60k distinct >> k=1024 -> within 3%
    val big = (0 until 60000).map(_.toLong).toDF("u")
    val est = big.agg(ThetaEstimate(ThetaAgg(col("u"), 10)).as("e"))
      .head().getLong(0)
    assert(math.abs(est - 60000L) <= 1800, est.toString)
    // merge identity: union of two half-sketches == sketch of the union
    val halves = big.withColumn("h", col("u") % 2)
      .groupBy("h").agg(ThetaAgg(col("u"), 10).as("sk"))
      .agg(ThetaEstimate(ThetaMergeAgg(col("sk"), 10)).as("e"))
      .head().getLong(0)
    assert(halves == est, s"$halves != $est")
  }

  test("integer pagerank: hand-computed fixed point, dangling mass dropped") {
    import graft.operators.Graph
    import spark.implicits._
    // a -> b (w=1): N=2, base=500000, teleport=(3e6)//(20*2)=75000
    // iter1: b = 75000 + (17*500000*1)//(20*1) = 500000 ; a = 75000
    // iter2: b = 75000 + (17*75000)//20 = 138750 ; a = 75000
    val edges = Seq(("a", "b", 1L)).toDF("x", "y", "w")
    val r2 = Graph.pageRankInt(edges, "x", "y", "w", iters = 2)
      .as[(String, Long)].collect().toMap
    assert(r2 == Map("a" -> 75000L, "b" -> 138750L), r2.toString)
    // total mass never exceeds scale (dangling/rounding mass only LEAKS)
    val cyc = Seq(("a", "b", 2L), ("b", "a", 1L), ("b", "c", 1L),
      ("c", "a", 3L)).toDF("x", "y", "w")
    val m = Graph.pageRankInt(cyc, "x", "y", "w", iters = 10)
      .as[(String, Long)].collect().map(_._2).sum
    assert(m <= 1000000L && m > 800000L, m.toString)
  }

  test("attribution: journey reset, first/last touch, direct fallback") {
    import graft.operators.EventAnalytics
    import spark.implicits._
    // user 1: view(0) click(1) BUY(2) click(3) BUY(4)  -> journey 0 has
    //   first=view last=click; journey 1 has first=last=click
    // user 2: BUY(5) -> no touches -> direct under both models
    val rows = Seq(
      (1L, 0L, "view"), (1L, 1L, "click"), (1L, 2L, "purchase"),
      (1L, 3L, "click"), (1L, 4L, "purchase"),
      (2L, 5L, "purchase")
    ).map { case (u, sec, ty) =>
      (u, new java.sql.Timestamp(sec * 1000L), sec, ty)
    }.toDF("user_id", "ts", "event_id", "event_type")
    val got = EventAnalytics.attribution(rows, "user_id", "ts", "event_id",
        "event_type", "purchase", Seq("click", "view"))
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(
      ("first_touch", "view", 1L), ("first_touch", "click", 1L),
      ("first_touch", "direct", 1L),
      ("last_touch", "click", 2L), ("last_touch", "direct", 1L)), got.toString)
  }

  test("skew report: hand-computed percentiles, shares, straggler factor") {
    import spark.implicits._
    // keys: a×6, b×2, c×1, d×1 → n=10, k=4, max=6
    // counts sorted: [1,1,2,6]; p50 → rank ceil(4*.5)=2 → 1;
    // p90 → rank ceil(3.6)=4 → 6; p99 → rank 4 → 6
    val df = (Seq.fill(6)("a") ++ Seq.fill(2)("b") ++ Seq("c", "d"))
      .toDF("k")
    val r = operators.SkewReport.keySkew(df, Seq(col("k"))).collect().head
    assert(r.getLong(0) == 10 && r.getLong(1) == 4 && r.getLong(2) == 6)
    assert(r.getLong(3) == 6000) // top1 share bp
    assert(r.getLong(4) == 1 && r.getLong(5) == 6 && r.getLong(6) == 6)
    assert(r.getLong(7) == 240) // 6 / (10/4) = 2.4× straggler factor

    val heavy = operators.SkewReport.heavyKeys(df, Seq(col("k")), 2)
      .as[(String, Long, Long)].collect().toSeq
    assert(heavy == Seq(("a", 6L, 6000L), ("b", 2L, 2000L)), heavy.toString)
  }

  test("join advisor: broadcast small sides, salt skew, shuffle otherwise") {
    import spark.implicits._
    import graft.operators.JoinAdvisor
    val small = (1L to 50L).map(i => (i, s"d$i")).toDF("k", "name")
    val big = (1L to 50L).flatMap(i => Seq.fill(20)((i, i * 2.0))).toDF("k", "v")

    // small side fits the budget → broadcast it
    val a1 = JoinAdvisor.advise(big, small, "k")
    assert(a1.strategy == "broadcast_right", a1.toString)
    assert(a1.joinRows == 1000)

    // force past broadcast with a tiny budget; uniform keys → shuffle
    val a2 = JoinAdvisor.advise(big, big, "k", broadcastBytes = 1L)
    assert(a2.strategy == "shuffle", a2.toString)
    assert(a2.skewLeftX100 == 100) // perfectly uniform

    // one dominant key → salt, factor from the measured straggler ratio
    val skewed = ((1L to 50L) ++ Seq.fill(950)(7L)).map(i => (i, i)).toDF("k", "v")
    val a3 = JoinAdvisor.advise(skewed, big, "k", broadcastBytes = 1L,
      saltAbove = 400L)
    assert(a3.strategy == "salt", a3.toString)
    assert(a3.saltFactor > 1 && a3.saltFactor <= 64)
  }

  test("join cardinality: exact sum of per-key products; sampled estimate sane") {
    import spark.implicits._
    // a: k1×3, k2×1, k3×2; b: k1×2, k2×5, k4×1
    // join rows = 3*2 + 1*5 = 11; matching keys = 2; max pair = 6
    val a = (Seq.fill(3)("k1") ++ Seq("k2") ++ Seq.fill(2)("k3")).toDF("k")
    val b = (Seq.fill(2)("k1") ++ Seq.fill(5)("k2") ++ Seq("k4")).toDF("k")
    val r = operators.JoinStats.exactJoinCardinality(a, b, "k").collect().head
    assert(r.getLong(0) == 11 && r.getLong(1) == 2 && r.getLong(2) == 6)
    assert(r.getLong(3) == 5454) // 6/11 in bp
    assert(r.getLong(4) == 4 && r.getLong(5) == 7) // matching-side rows
    // the exact report equals the physically-executed join's count
    assert(a.join(b, "k").count() == 11)

    // sampled estimator at 100% == exact; at 50% it is a scaled integer
    // from the surviving-key subset (deterministic md5 draw)
    val full = operators.JoinStats.sampledJoinCardinality(a, b, "k", 100)
      .collect().head
    assert(full.getLong(0) == 11 && full.getLong(1) == 2)
    val half = operators.JoinStats.sampledJoinCardinality(a, b, "k", 50)
      .collect().head
    assert(half.getLong(0) % 2 == 0 && half.getLong(1) <= 2)
  }

  test("lateness report: hand-computed late counts, worst lateness, basis points") {
    import spark.implicits._
    // series A in arrival order: ts 100, 200, 150(late by 50), 300, 120(late by 180)
    // series B strictly increasing -> zero late
    val rows = Seq(
      ("A", 1L, 100L), ("A", 2L, 200L), ("A", 3L, 150L),
      ("A", 4L, 300L), ("A", 5L, 120L),
      ("B", 1L, 10L), ("B", 2L, 20L), ("B", 3L, 30L), ("B", 4L, 40L)
    ).toDF("k", "arr", "us")
      .withColumn("ts", timestamp_micros(col("us")))
    val out = graft.operators.SeriesStats.latenessReport(rows, "k", "ts", "arr")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out("A") == ((5L, 2L, 180L, 4000L)), out.toString) // 2/5 = 4000 bp
    assert(out("B") == ((4L, 0L, 0L, 0L)), out.toString)
  }

  test("co-occurrence lift: hand-computed baskets, support and scaled lift") {
    import spark.implicits._
    // buckets of 100us; baskets: u1/b0 {a,b}, u1/b1 {a}, u2/b0 {a,b,c}, u3/b0 {b}
    val rows = Seq(
      (1L, 10L, "a"), (1L, 20L, "b"), (1L, 30L, "a"), // u1/b0 dup a collapses
      (1L, 150L, "a"),
      (2L, 40L, "a"), (2L, 50L, "b"), (2L, 60L, "c"),
      (3L, 70L, "b")
    ).toDF("u", "us", "t").withColumn("ts", timestamp_micros(col("us")))
    val out = graft.operators.EventAnalytics.cooccurrenceLift(
        rows, "u", "ts", "t", bucketUs = 100L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    // N=4 baskets; n_a=3, n_b=3, n_c=1; ab in 2 baskets, ac 1, bc 1
    assert(out(("a","b")) == ((2L, 3L, 3L, 4L, 888888L)), out.toString) // 4*2/(3*3)
    assert(out(("a","c")) == ((1L, 3L, 1L, 4L, 1333333L)), out.toString)
    assert(out(("b","c")) == ((1L, 3L, 1L, 4L, 1333333L)), out.toString)
    assert(out.size == 3)
  }

  test("SAX motifs: shared shapes across series; single-series words excluded") {
    import spark.implicits._
    // a and b are identical 7-point sawtooths (syms 0303030 -> two full
    // 6-words each); c is constant (hi == lo -> all-zero syms, one series
    // only, so its words never reach the motif report)
    val saw = Seq(0.0, 10.0, 0.0, 10.0, 0.0, 10.0, 0.0)
    val rows = (for {
      (s, off) <- Seq(("a", 0L), ("b", 100L), ("c", 200L))
      (v, i) <- (if (s == "c") Seq.fill(7)(5.0) else saw).zipWithIndex
    } yield (s, i.toLong, off + i, v)).toDF("series", "t", "id", "v")
    val out = SeriesStats.saxMotifs(
        rows, col("series"), "t", "v", "id", alphabet = 4, wordLen = 6)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == Map("030303" -> ((2L, 2L)), "303030" -> ((2L, 2L))),
      out.toString)
  }

  test("exact quantiles: nearest-rank values per key, uneven key sizes") {
    import spark.implicits._
    // key a: 1..10 -> p50=5, p90=9, p99=10; key b: 3 values -> p50=2nd
    val rows = ((1 to 10).map(i => ("a", i.toDouble, i.toLong)) ++
      Seq(("b", 7.0, 100L), ("b", 1.0, 101L), ("b", 4.0, 102L)))
      .toDF("k", "v", "id")
    val collected = graft.operators.ExactQuantiles
      .perKey(rows, "k", "v", "id", Seq(50, 90, 99))
      .collect()
    assert(collected.length == 6, collected.mkString(",")) // no dup matches
    val out = collected
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out == Map(
      ("a", 50L) -> 5.0, ("a", 90L) -> 9.0, ("a", 99L) -> 10.0,
      ("b", 50L) -> 4.0, ("b", 90L) -> 7.0, ("b", 99L) -> 7.0), out.toString)
  }
}
