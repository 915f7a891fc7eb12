package loadbench

import com.fasterxml.jackson.databind.node.ObjectNode
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM:
  *
  *   loadbench.Main --workload tsdb_ingest|tsdb_dashboard --seed N
  *     --seconds S --trace 0|1 --workdir DIR --cores N [--trace-file PATH]
  *
  * The run sets up three times (setup_s is the median) and runs the timed
  * phase on the last set-up. With --trace 1 it then runs the registry
  * batch over a seeded corpus, sets up once more and repeats the seed's
  * TSDB phase with listeners and per-layer probes on. Everything the run writes lives
  * under DIR. The result is one JSON line on stdout
  * prefixed `LOADBENCH_RESULT `; the exit code is 0 when every operation
  * succeeded with a correct answer, 3 otherwise. */
object Main {

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  private def liveDataBytes(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val fs = s.iterator().asScala
          .filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet"))
          .map(Files.size).toSeq
        (fs.length.toLong, fs.sum)
      } finally s.close()
    }
  }

  /** Heap in use after a full collection: what the engine and the
    * session retain, without the garbage a young collection leaves in the
    * old generation (whose amount depends on when collections ran). */
  private def liveHeapBytes(): Long = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  private def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traceOn = a.get("trace").contains("1")
    val work = Paths.get(a("workdir")).toAbsolutePath
    val cores = a("cores").toInt
    val setups = 3
    require(Set("tsdb_ingest", "tsdb_dashboard").contains(workload),
      s"unknown workload '$workload'")
    Files.createDirectories(work.resolve("local"))

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"loadbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Tables.tune(spark)
    // Coalesce shuffle partitions by the advisory size alone. By default
    // AQE aims at total/parallelism bytes, and on small tables the seeded
    // values' compressed size decides between one and two partitions, so
    // a compaction wrote one or two files per segment depending on the
    // seed (stored bytes per point moved by 29%).
    spark.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val startupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    // set-up, repeated from an empty warehouse each time; the last one
    // carries into the timed phase
    val setupS = ArrayBuffer[Double]()
    val reclaimMs = ArrayBuffer[Double]()
    var wl: Workload = null
    var warehouse: Path = null
    var setupRuns = 0
    def setUp(ctx: Ctx): Unit = {
      if (wl != null) {
        wl.tearDown()
        val r0 = System.nanoTime()
        deleteTree(warehouse)
        reclaimMs += (System.nanoTime() - r0) / 1e6
      }
      warehouse = work.resolve(s"warehouse$setupRuns")
      setupRuns += 1
      wl = if (workload == "tsdb_ingest") new Ingest(ctx) else new Dashboard(ctx)
      val t0 = System.nanoTime()
      wl.setUp(warehouse.toString)
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val plain = new Ctx(spark, seed, new Recorder, None)
    // a failed set-up is a failed run: no result
    (0 until setups).foreach(_ => setUp(plain))
    val setupMedianS = Stats.median(setupS.toSeq)
    val firstOpS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    /** Whole cycles until the time is up, and at least up to the cycle
      * after which stored bytes and the live heap are measured (so a slow
      * machine measures the same state), then the final-state check. */
    def timedPhase(rec: Recorder): Phase = {
      var storedBytesPerPoint = -1.0
      var liveHeap = 0L
      var pausedNs = 0L
      val t0 = System.nanoTime()
      var cycles = 0
      while (cycles < wl.measureAfterCycle || (System.nanoTime() - t0 - pausedNs) / 1e9 < seconds) {
        rec.cycle = cycles
        wl.cycle(cycles)
        cycles += 1
        if (cycles == wl.measureAfterCycle) {
          val p0 = System.nanoTime()
          storedBytesPerPoint =
            liveDataBytes(wl.engine.catalog.dataDir(wl.table))._2.toDouble / wl.livePoints
          liveHeap = liveHeapBytes()
          pausedNs += System.nanoTime() - p0
        }
      }
      val wallS = (System.nanoTime() - t0 - pausedNs) / 1e9
      rec.afterOp = _ => ()
      wl.finalCheck()
      Phase(rec.ops.toSeq, cycles, wallS, storedBytesPerPoint, liveHeap)
    }

    val plainPhase = timedPhase(plain.rec)
    // traced runs only: the registry batch, whose figures are per-layer
    // metrics (they spread too much across runs for an end-to-end bound)
    val batchRec = new Recorder
    val registry = RegistryBatch.forWorkload(spark, seed, work.resolve("registry").toString,
      workload)
    val batch = if (traceOn) registry.run(batchRec) else Nil
    // traced: the same seed again from a fresh set-up, with listeners on
    val traced = if (!traceOn) None else {
      val t = new Tracer(spark, work)
      val ctx = new Ctx(spark, seed, new Recorder, Some(t))
      val s0 = System.currentTimeMillis()
      setUp(ctx)
      t.spans += t.Span("setup", s0, System.currentTimeMillis(), -1, -1)
      t.install()
      t.rawDir = warehouse.resolve(wl.table).toString + "/"
      t.rollupDir = warehouse.resolve("cpu_1m").toString + "/"
      t.startStorage()
      ctx.rec.beforeOp = () => t.beforeOp(wl.engine.catalog.dataDir(wl.table))
      ctx.rec.afterOp = o => t.afterOp(o)
      val p = timedPhase(ctx.rec)
      t.drain()
      Some((t, ctx.rec, p))
    }

    // ------------------------------------------------------------ report
    val allOps = plainPhase.ops ++ batchRec.ops ++ traced.toSeq.flatMap(_._3.ops)
    val failed = allOps.count(!_.ok)
    val wrong = allOps.count(_.wrong)
    val writes = plainPhase.ok("write")
    val queries = plainPhase.ok("query")
    require(writes.nonEmpty && queries.nonEmpty, "the timed phase ran no complete cycle")
    val (writeTailP, writeTail) = Stats.tail(writes.map(_.ms))
    val (queryTailP, queryTail) = Stats.tail(queries.map(_.ms))

    val m = Panels.mapper
    val out = m.createObjectNode()
    out.put("workload", workload).put("seed", seed).put("seconds", seconds)
      .put("trace", traceOn).put("cycles", plainPhase.cycles).put("wall_s", plainPhase.wallS)
      .put("startup_s", startupS).put("first_op_s", firstOpS)
      .put("attempted", allOps.length).put("failed", failed).put("wrong", wrong)
      .put("error_rate", failed.toDouble / allOps.length)
      .put("write_samples", writes.length).put("query_samples", queries.length)
      .put("write_tail_percentile", writeTailP).put("query_tail_percentile", queryTailP)
      .put("stored_bytes_measured_after_cycle", wl.measureAfterCycle)
    val sa = out.putArray("setup_s_runs")
    setupS.take(setups).foreach(x => sa.add(x))
    val errs = out.putArray("errors")
    allOps.filterNot(_.ok).take(5).foreach(o => errs.add(s"${o.kind}/${o.name}: ${o.error}"))
    val metrics = out.putObject("metrics")
    def metric(o: ObjectNode, name: String, v: Double, unit: String): Unit =
      o.putObject(name).put("value", v).put("unit", unit)
    metric(metrics, "setup_s", setupMedianS, "s")
    metric(metrics, "first_op_s", firstOpS, "s")
    metric(metrics, "write_points_per_s", writes.map(_.points).sum / (writes.map(_.ms).sum / 1000.0), "points/s")
    metric(metrics, "write_p50_ms", Stats.median(writes.map(_.ms)), "ms")
    metric(metrics, "write_tail_ms", writeTail, "ms")
    metric(metrics, "query_p50_ms", Stats.median(queries.map(_.ms)), "ms")
    metric(metrics, "query_tail_ms", queryTail, "ms")
    metric(metrics, "queries_per_s", queries.length / plainPhase.wallS, "1/s")
    metric(metrics, "stored_bytes_per_point", plainPhase.storedBytesPerPoint, "B")
    metric(metrics, "peak_rss_mb", vmHwmKb() / 1024.0, "MB")
    metric(metrics, "heap_live_mb", plainPhase.liveHeapBytes / 1048576.0, "MB")
    // the batch's answers are checked against DuckDB outside the JVM, which
    // also derives the batch figures from the operations it accepts
    if (traceOn) {
      out.put("corpus", s"${work.resolve("registry")}/documents.parquet")
      out.put("corpus_gen_ms", registry.genMs).put("registry_warm_ms", registry.warmMs)
    }
    val ba = out.putArray("batch")
    batch.foreach { b =>
      val o = ba.addObject()
      o.put("name", b.op.name).put("ms", b.op.ms).put("ok", b.op.ok)
        .put("build_ms", b.buildMs).put("exec_ms", b.execMs).put("memo_builds", b.memoBuilds)
        .put("heavy", RegistryBatch.Heavy.contains(b.op.name))
        .put("oracle", graft.SparkEntry.oracleSql.getOrElse(b.op.name, null))
      val cols = o.putArray("columns")
      b.columns.foreach(c => cols.add(c))
      val rows = o.putArray("rows")
      b.rows.foreach(r => rows.add(RowJson.row(m, r)))
    }

    traced.foreach { case (t, rec, p) =>
      val (liveFiles, liveBytes) = liveDataBytes(wl.engine.catalog.dataDir(wl.table))
      val opP50 = (ph: Phase) => Stats.median(ph.ops.filter(o => o.ok && o.kind != "final").map(_.ms))
      val rows = t.summarize(p.ops, liveFiles, liveBytes) ++ Seq(
        ("harness.gen_ms", t.samplesView.get("harness.gen_ms").map(Stats.mean).getOrElse(0.0), "per write"),
        ("harness.check_ms", rec.checkNs / 1e6 / math.max(1, rec.checks), "per checked operation"),
        ("harness.reclaim_ms", Stats.mean(reclaimMs.toSeq), "per discarded set-up warehouse"),
        ("trace.overhead_ratio", opP50(p) / opP50(plainPhase),
          "traced / untraced median operation latency, same seed, same process"))
      val layers = out.putObject("per_layer")
      rows.foreach { case (name, v, base) =>
        val unit =
          if (name.endsWith("_ms") || name.endsWith("_ms_per_kpoint")) "ms"
          else if (name.contains("bytes")) "B"
          else if (name.endsWith("ratio") || name.endsWith("amplification")) "ratio"
          else "count"
        layers.putObject(name).put("value", v).put("unit", unit).put("base", base)
      }
      a.get("trace-file").foreach { f =>
        Files.createDirectories(Paths.get(f).toAbsolutePath.getParent)
        Files.writeString(Paths.get(f), TraceFile.render(t, p.ops, rows))
      }
    }

    wl.tearDown()
    println("LOADBENCH_RESULT " + m.writeValueAsString(out))
    spark.stop()
    System.exit(if (failed == 0) 0 else 3)
  }
}

/** The record of one timed phase. */
final case class Phase(ops: Seq[Op], cycles: Int, wallS: Double,
    storedBytesPerPoint: Double, liveHeapBytes: Long) {
  def ok(kind: String): Seq[Op] = ops.filter(o => o.ok && o.kind == kind)
}
