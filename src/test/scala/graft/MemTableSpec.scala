package graft

import graft.engine.TsdbEngine
import graft.influx.LineProtocol
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** The write buffer behind line protocol, OpenTSDB put and gRPC Write:
  * every acknowledged row is read exactly once — from the buffer or from
  * files — across flushes, compactions, restarts and torn or corrupt log
  * records. */
class MemTableSpec extends SparkSpec {

  private val T0 = 1704067200000L // an hour boundary
  private def lp(e: TsdbEngine, table: String, rows: Seq[(String, Long, Double)]): Unit =
    LineProtocol.ingest(e, rows.map { case (h, ms, v) => s"$table,host=$h v=$v ${ms * 1000000L}" })

  private def walFiles(e: TsdbEngine, t: String): Seq[Path] =
    if (!Files.isDirectory(e.catalog.walDir(t))) Nil
    else {
      val s = Files.list(e.catalog.walDir(t))
      try s.iterator().asScala.toSeq.sortBy(_.getFileName.toString) finally s.close()
    }

  /** Parquet files per `__segment=` directory of the table's current data. */
  private def filesPerSegment(e: TsdbEngine, t: String): Map[String, Int] =
    new java.io.File(e.catalog.dataDir(t)).listFiles().filter(_.isDirectory)
      .filter(_.getName.startsWith("__segment="))
      .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))).toMap

  private def segTable(e: TsdbEngine, t: String, mode: String = "overwrite"): Unit =
    e.execute(
      s"""CREATE TABLE $t (host string TAG, v double, ts timestamp NOT NULL,
         |  TIMESTAMP KEY(ts)) ENGINE=Analytic
         |WITH (update_mode='$mode', segment_duration='1h', enable_ttl='false')""".stripMargin)

  test("a buffered write is read, survives a restart, and flushes to one file per segment") {
    val e = new TsdbEngine(spark, tmpDir("mt-flush"))
    segTable(e, "m")
    // 200 points over two hour segments, in one write
    lp(e, "m", (0 until 200).map(i => (s"h${i % 10}", T0 + (i / 10) * 360000L, i.toDouble)))
    assert(!Files.exists(Paths.get(e.catalog.dataDir("m"))), "the write reached Parquet")
    assert(walFiles(e, "m").nonEmpty)
    assert(e.read("m").count() == 200)
    // a new engine on the same warehouse replays the log
    val e2 = new TsdbEngine(spark, e.warehouse)
    assert(e2.read("m").count() == 200)
    e2.flush("m")
    assert(filesPerSegment(e2, "m") == Map(
      s"__segment=${T0 / 3600000L}" -> 1, s"__segment=${T0 / 3600000L + 1}" -> 1))
    assert(walFiles(e2, "m").isEmpty, "flushed records stay in the log")
    assert(e2.read("m").count() == 200)
    assert(new TsdbEngine(spark, e.warehouse).read("m").count() == 200)
  }

  test("a two-segment INSERT lands one file per segment") {
    val e = new TsdbEngine(spark, tmpDir("mt-insert"))
    segTable(e, "ins")
    val values = (0 until 40).map(i => s"('h$i', $i, ${T0 + i * 180000L})").mkString(", ")
    e.execute(s"INSERT INTO ins (host, v, ts) VALUES $values")
    assert(filesPerSegment(e, "ins") == Map(
      s"__segment=${T0 / 3600000L}" -> 1, s"__segment=${T0 / 3600000L + 1}" -> 1))
    assert(e.read("ins").count() == 40)
  }

  test("crash windows: before any flush, and between a flush's flip and its log delete") {
    val wh = tmpDir("mt-crash")
    val a = new TsdbEngine(spark, wh)
    segTable(a, "c", mode = "append")
    lp(a, "c", (0 until 50).map(i => ("h", T0 + i, 1.0)))
    lp(a, "c", (0 until 30).map(i => ("g", T0 + i, 2.0)))
    // killed after the fsync: the engine object is abandoned unflushed
    assert(new TsdbEngine(spark, wh).read("c").count() == 80)

    // a flush whose files landed in the next generation but whose
    // manifest flip never happened: a partial generation on disk
    val b = new TsdbEngine(spark, wh)
    val (gen, _) = b.catalog.compactionState("c")
    val stray = Paths.get(b.catalog.genDataDir("c", gen + 1), s"__segment=${T0 / 3600000L}")
    Files.createDirectories(stray)
    Files.write(stray.resolve("part-00000-stray.parquet"), Array[Byte](1, 2, 3))
    assert(b.read("c").count() == 80)
    // the flush flips and then crashes before deleting its log records
    val saved = walFiles(b, "c").map(p => p.getFileName.toString -> Files.readAllBytes(p))
    b.flush("c")
    assert(b.read("c").count() == 80)
    saved.foreach { case (n, bytes) =>
      Files.createDirectories(b.catalog.walDir("c"))
      Files.write(b.catalog.walDir("c").resolve(n), bytes)
    }
    val d = new TsdbEngine(spark, wh)
    assert(d.read("c").count() == 80, "replay re-buffered rows already in Parquet")
    assert(walFiles(d, "c").isEmpty)
  }

  test("replay drops a torn final record and fails loudly on a corrupt earlier one") {
    val wh = tmpDir("mt-torn")
    val a = new TsdbEngine(spark, wh)
    segTable(a, "t")
    lp(a, "t", Seq(("h1", T0, 1.0)))
    lp(a, "t", Seq(("h2", T0, 2.0), ("h3", T0, 3.0)))
    val Seq(log) = walFiles(a, "t")
    val good = Files.readAllBytes(log)
    // an unacknowledged third record cut off mid-payload
    Files.write(log, Array[Byte](0, 0, 1, 0, 9, 9, 9, 9, 7, 7), StandardOpenOption.APPEND)
    val b = new TsdbEngine(spark, wh)
    assert(b.read("t").count() == 3)
    assert(Files.readAllBytes(log).sameElements(good), "the torn tail was not truncated")
    // a later write after the truncation replays too
    lp(b, "t", Seq(("h4", T0, 4.0)))
    assert(new TsdbEngine(spark, wh).read("t").count() == 4)
    // flip one payload byte of the FIRST record: corruption, not a tear
    val bytes = Files.readAllBytes(log)
    bytes(12) = (bytes(12) ^ 0x5a).toByte
    Files.write(log, bytes)
    val err = intercept[IllegalStateException](new TsdbEngine(spark, wh))
    assert(err.getMessage.contains("corrupt WAL record"), err.getMessage)
  }

  test("a flush that fails after the write is durable does not fail the write") {
    val e = new TsdbEngine(spark, tmpDir("mt-flushfail"))
    e.execute(
      s"""CREATE TABLE f (host string TAG, v double, ts timestamp NOT NULL,
         |  TIMESTAMP KEY(ts)) ENGINE=Analytic
         |WITH (update_mode='append', segment_duration='1h', write_buffer_size='1B')""".stripMargin)
    val key = "spark.sql.parquet.output.committer.class"
    spark.conf.set(key, classOf[FailingParquetCommitter].getName) // every Parquet write fails
    try {
      lp(e, "f", (0 until 20).map(i => ("h", T0 + i, 1.0)))
      lp(e, "f", (0 until 10).map(i => ("g", T0 + i, 2.0)))
      assert(e.read("f").count() == 30)
      assert(e.bufferedTables == Seq("f"))
      assert(!Files.exists(Paths.get(e.catalog.dataDir("f"))), "a failed flush left files")
      val err = intercept[Exception](e.flush("f"))
      assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("injected")), err.toString)
    } finally spark.conf.unset(key)
    // the next write's threshold flush takes every buffered row along
    lp(e, "f", Seq(("k", T0, 3.0)))
    assert(e.bufferedTables.isEmpty && walFiles(e, "f").isEmpty)
    assert(e.read("f").count() == 31)
    assert(new TsdbEngine(spark, e.warehouse).read("f").count() == 31)
  }

  test("write_buffer_size is checked by CREATE and ALTER and accepts size units") {
    val e = new TsdbEngine(spark, tmpDir("mt-wbs"))
    def create(t: String, v: String) = e.execute(
      s"CREATE TABLE $t (v double, ts timestamp NOT NULL, TIMESTAMP KEY(ts)) " +
        s"ENGINE=Analytic WITH (write_buffer_size='$v')")
    create("a", "32MB")
    assert(e.catalog.get("a").options.writeBufferSize == (32L << 20))
    create("b", "4096")
    assert(e.catalog.get("b").options.writeBufferSize == 4096L)
    Seq("lots", "0", "-1", "99999999999999999999").foreach { v =>
      intercept[IllegalArgumentException](create("c", v))
      assert(!e.catalog.exists("c"))
    }
    intercept[IllegalArgumentException](
      e.execute("ALTER TABLE b MODIFY SETTING write_buffer_size='x'"))
    assert(e.catalog.get("b").options.writeBufferSize == 4096L)
    e.execute("ALTER TABLE b MODIFY SETTING write_buffer_size='1KiB'")
    assert(e.catalog.get("b").options.writeBufferSize == 1024L)
  }

  test("replay raises the sequence counter past every logged write") {
    val wh = tmpDir("mt-seq")
    val a = new TsdbEngine(spark, wh)
    segTable(a, "q")
    lp(a, "q", Seq(("h", T0, 1.0)))
    lp(a, "q", Seq(("h", T0, 2.0)))
    val logged = a.catalog.nextSeqOf("q") - 1
    // an OS crash lost the unsynced counter update of both writes
    val mf = Paths.get(a.catalog.dataDir("q")).resolveSibling("_manifest.json")
    Files.writeString(mf, Files.readString(mf).replaceAll("\"nextSeq\"\\s*:\\s*\\d+", "\"nextSeq\" : 0"))
    assert(a.catalog.nextSeqOf("q") == 0)
    val b = new TsdbEngine(spark, wh)
    assert(b.catalog.nextSeqOf("q") > logged)
    // the next write is newer than both logged ones: it wins alone
    lp(b, "q", Seq(("h", T0, 3.0)))
    def values(e: TsdbEngine) = e.read("q").collect().map(_.getAs[Double]("v")).toSeq
    assert(values(b) == Seq(3.0))
    b.flush("q")
    assert(values(new TsdbEngine(spark, wh)) == Seq(3.0))
  }

  test("buffers flush at the per-table and the all-tables row budgets") {
    val e = new TsdbEngine(spark, tmpDir("mt-budget"))
    val per = TsdbEngine.BufferRowsPerTable.toInt
    def write(t: String, rows: Int, from: Int = 0): Unit =
      lp(e, t, (from until from + rows).map(i => (s"h${i % 50}", T0 + i * 10L, i.toDouble)))
    segTable(e, "p", mode = "append")
    write("p", per - 1)
    assert(e.bufferedTables == Seq("p"))
    write("p", 1, from = per - 1)
    assert(e.bufferedTables.isEmpty, "the table's budget did not flush it")
    assert(e.read("p").count() == per)
    // tables below their own budget, together over the total one
    val n = (TsdbEngine.BufferRowsTotal / (per - 1)).toInt + 1
    val tables = (0 until n).map(i => s"g$i")
    tables.foreach(segTable(e, _, mode = "append"))
    tables.zipWithIndex.foreach { case (t, i) => write(t, per - 1 - i) }
    val left = tables.filter(e.bufferedTables.contains)
    assert(left.nonEmpty && left.length < n)
    assert(tables.filterNot(left.contains) == tables.take(n - left.length),
      "the largest buffers were not the ones flushed")
    tables.zipWithIndex.foreach { case (t, i) => assert(e.read(t).count() == per - 1 - i) }
  }

  test("a column added after a buffered write reads NULL, before and after the flush") {
    val e = new TsdbEngine(spark, tmpDir("mt-schema"))
    LineProtocol.ingest(e, Seq(s"s,host=a v=1.0 ${T0 * 1000000L}"))
    LineProtocol.ingest(e, Seq(s"s,host=b v=2.0,w=3i ${T0 * 1000000L}"))
    def rows() = e.read("s").orderBy("host").collect()
      .map(r => (r.getAs[String]("host"), Option(r.getAs[java.lang.Long]("w")).map(_.toLong)))
      .toSeq
    assert(rows() == Seq(("a", None), ("b", Some(3L))))
    e.flush("s")
    assert(rows() == Seq(("a", None), ("b", Some(3L))))
  }

  test("overwrite: one key written by line protocol (buffered) and INSERT (Parquet) reads once, newest wins") {
    val e = new TsdbEngine(spark, tmpDir("mt-ow"))
    segTable(e, "ow")
    def value(): Seq[Double] = e.read("ow").collect().map(_.getAs[Double]("v")).toSeq
    lp(e, "ow", Seq(("h", T0, 1.0)))
    e.execute(s"INSERT INTO ow (host, v, ts) VALUES ('h', 2.0, $T0)")
    assert(value() == Seq(2.0))
    lp(e, "ow", Seq(("h", T0, 3.0)))
    assert(value() == Seq(3.0))
    e.compact("ow")
    assert(value() == Seq(3.0))
    e.execute(s"INSERT INTO ow (host, v, ts) VALUES ('h', 4.0, $T0)")
    lp(e, "ow", Seq(("h", T0, 5.0)))
    e.flush("ow")
    assert(value() == Seq(5.0))
  }

  /** Whether the read's optimized plan holds a window (the dedup window). */
  private def windowed(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.nonEmpty

  /** Spark jobs `body` runs, counted under its own job group; a marker
    * job after it proves the listener bus delivered every earlier job. */
  private def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        groups.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    val g = s"jobs-${System.nanoTime()}"
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(g, g)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(g + "-marker", g)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (!groups.contains(g + "-marker") && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(groups.contains(g + "-marker"), "listener never saw the marker job")
      groups.asScala.count(_ == g)
    } finally sc.removeSparkListener(listener)
  }

  test("buffered rows over a compacted overwrite table read without the dedup window") {
    val e = new TsdbEngine(spark, tmpDir("mt-nowindow"))
    segTable(e, "nw")
    lp(e, "nw", (0 until 40).map(i => (s"h${i % 8}", T0 + (i / 8) * 60000L, i.toDouble)))
    e.compact("nw")
    assert(!windowed(e.read("nw")), "a compacted table with an empty buffer planned the window")
    // re-sent keys (one twice in a write), a new key and a late row
    lp(e, "nw", Seq(("h1", T0, 100.0), ("h2", T0 + 60000L, 101.0), ("h1", T0, 102.0)))
    lp(e, "nw", Seq(("h9", T0 + 600000L, 103.0), ("h3", T0 - 3600000L, 104.0)))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[String]("host"), r.getAs[java.sql.Timestamp]("ts").getTime,
        r.getAs[Double]("v"))).toSeq.sortBy(r => (r._1, r._2))
    val snapshot = e.readAsOf("nw", e.currentSeq("nw") - 1)
    assert(windowed(snapshot))
    assert(!windowed(e.read("nw")), "buffered rows over compacted files planned the window")
    val got = rows(e.read("nw"))
    assert(got == rows(snapshot))
    assert(got.length == 42 && got.contains(("h1", T0, 102.0)) && got.contains(("h2", T0 + 60000L, 101.0)))
    // the window's shuffle stage is the job the read no longer runs
    val fast = jobsOf(e.read("nw").collect())
    val window = jobsOf(e.readAsOf("nw", e.currentSeq("nw") - 1).collect())
    assert(fast == window - 1, s"read ran $fast jobs, the window read $window")

    // a flush stores buffered sequences above the compaction floor
    e.flush("nw")
    assert(windowed(e.read("nw")), "read skipped the window after a flush")
    assert(rows(e.read("nw")) == got)
    e.compact("nw")
    lp(e, "nw", Seq(("h1", T0, 200.0)))
    assert(!windowed(e.read("nw")))
    // a write whose value does not convert spends no sequence
    intercept[IllegalArgumentException](
      LineProtocol.ingest(e, Seq(s"nw,host=h5 v=\"text\" ${T0 * 1000000L}")))
    assert(!windowed(e.read("nw")), "a rejected write put reads back on the window")
    // so does a direct Parquet append
    e.execute(s"INSERT INTO nw (host, v, ts) VALUES ('h2', 201.0, $T0)")
    assert(windowed(e.read("nw")), "read skipped the window after an INSERT")
    val after = rows(e.read("nw"))
    assert(after.contains(("h1", T0, 200.0)) && after.contains(("h2", T0, 201.0)) && after.length == 42)
  }

  test("DROP forgets the buffer: a re-created table of the same name reads 0 rows") {
    val e = new TsdbEngine(spark, tmpDir("mt-drop"))
    segTable(e, "d")
    lp(e, "d", Seq(("h", T0, 1.0), ("g", T0, 2.0)))
    assert(e.read("d").count() == 2)
    e.execute("DROP TABLE d")
    segTable(e, "d")
    assert(e.read("d").count() == 0)
    assert(new TsdbEngine(spark, e.warehouse).read("d").count() == 0)
  }

  test("a drop and re-create within the GC grace keeps the new table's grace") {
    val e = new TsdbEngine(spark, tmpDir("mt-grace"))
    e.genGraceMs = 60000L
    segTable(e, "g")
    e.execute(s"INSERT INTO g (host, v, ts) VALUES ('h', 1.0, $T0)")
    e.compact("g"); e.compact("g")
    assert(e.supersededAtMs.keySet.asScala.exists(_._1 == "g"))
    e.execute("DROP TABLE g")
    assert(!e.supersededAtMs.keySet.asScala.exists(_._1 == "g"),
      "the dropped table's GC clocks outlive it")
    segTable(e, "g")
    e.execute(s"INSERT INTO g (host, v, ts) VALUES ('h', 2.0, $T0)")
    e.compact("g"); e.compact("g"); e.compact("g")
    // superseded moments ago: every generation is still inside its grace
    (0 to 2).foreach { k =>
      assert(Files.exists(Paths.get(e.catalog.genDataDir("g", k))), s"generation $k GC'd early")
    }
    assert(e.read("g").collect().map(_.getAs[Double]("v")).toSeq == Seq(2.0))
  }

  test("concurrent reads against flushes and compactions return exact counts (append mode)") {
    val e = new TsdbEngine(spark, tmpDir("mt-conc"))
    segTable(e, "cc", mode = "append")
    val per = 20
    val acked = new java.util.concurrent.atomic.AtomicLong(0)
    val started = new java.util.concurrent.atomic.AtomicLong(0)
    @volatile var failure: Option[Throwable] = None
    val writer = new Thread(() =>
      try (0 until 24).foreach { i =>
        started.addAndGet(per)
        lp(e, "cc", (0 until per).map(j => (s"h$j", T0 + i * 1000L + j, i.toDouble)))
        acked.addAndGet(per)
        if (i % 6 == 2) e.flush("cc")
        if (i % 6 == 5) e.compact("cc")
      } catch { case t: Throwable => failure = Some(t) })
    writer.start()
    var reads = 0
    while (writer.isAlive || reads < 3) {
      val lo = acked.get()
      val n = e.read("cc").count()
      val hi = started.get()
      assert(n >= lo && n <= hi && n % per == 0, s"read $n rows, acknowledged $lo, started $hi")
      reads += 1
    }
    writer.join()
    failure.foreach(throw _)
    assert(e.read("cc").count() == 24L * per)
    assert(new TsdbEngine(spark, e.warehouse).read("cc").count() == 24L * per)
  }
}

/** A Parquet output committer whose job setup fails: with it set as
  * `spark.sql.parquet.output.committer.class`, every Parquet write fails. */
class FailingParquetCommitter(
    out: org.apache.hadoop.fs.Path, ctx: org.apache.hadoop.mapreduce.TaskAttemptContext)
    extends org.apache.parquet.hadoop.ParquetOutputCommitter(out, ctx) {
  override def setupJob(job: org.apache.hadoop.mapreduce.JobContext): Unit =
    throw new java.io.IOException("injected Parquet write failure")
}
