package loadbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The traced run: Spark listeners, timed side calls into each layer's
  * public functions, and a storage walk after every operation. Events
  * are attributed to the operation whose wall-clock span contains them
  * (one client, so operations never overlap). */
final class Tracer(spark: SparkSession, workdir: Path) {

  final case class Span(name: String, startMs: Long, endMs: Long, parent: Int, opId: Int)
  final case class Job(id: Int, startMs: Long, callSite: String) {
    @volatile var endMs: Long = -1L
  }
  final case class Task(launchMs: Long, runMs: Long, deserMs: Long, gcMs: Long,
      schedDelayMs: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long)
  final case class Qe(startMs: Long, analysisMs: Double, optimizationMs: Double,
      planningMs: Double, readsRaw: Boolean, readsRollup: Boolean, window: Boolean,
      files: Long, bytes: Long, partitions: Long)

  val spans = ArrayBuffer[Span]()
  private val samples = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  private val counters = mutable.LinkedHashMap[String, Double]()
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stages = ArrayBuffer[Long]() // submission times
  private val tasks = ArrayBuffer[Task]()
  private val qes = ArrayBuffer[Qe]()

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, ArrayBuffer()) += v
  def count(name: String, v: Double = 1.0): Unit =
    counters(name) = counters.getOrElse(name, 0.0) + v

  /** Raw-table and rollup-table directory prefixes of the live warehouse. */
  @volatile var rawDir: String = "\u0000"
  @volatile var rollupDir: String = "\u0000"

  private object Aqe extends AdaptiveSparkPlanHelper

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      // the call site (short and long form) that launched the job: local
      // property when set, else the stage names and details
      val prop = Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short")))
      val cs = (prop.toSeq ++ e.stageInfos.flatMap(s => Seq(s.name, s.details))).mkString("\n")
      jobs(e.jobId) = Job(e.jobId, e.time, cs)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stages += e.stageInfo.submissionTime.getOrElse(-1L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null && i != null) {
        val busy = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime
        tasks += Task(i.launchTime, m.executorRunTime, m.executorDeserializeTime,
          m.jvmGCTime, math.max(0L, (i.finishTime - i.launchTime) - busy),
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private def paths(p: LogicalPlan): Seq[String] = p.collectLeaves().collect {
    case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
      fs.location.rootPaths.map(_.toUri.getPath)
  }.flatten

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def phase(n: String): Double = ph.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
      val start = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.startTimeMs).min
      val opt = qe.optimizedPlan
      val ps = paths(opt)
      val window = opt.collect { case w: Window => w }
        .exists(w => paths(w).exists(_.startsWith(rawDir)))
      val scans = Aqe.collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
      def metric(n: String): Long = scans.map(_.metrics.get(n).map(_.value).getOrElse(0L)).sum
      val q = Qe(start, phase("analysis"), phase("optimization"), phase("planning"),
        ps.exists(_.startsWith(rawDir)), ps.exists(_.startsWith(rollupDir)), window,
        metric("numFiles"), metric("filesSize"), metric("numPartitions"))
      Tracer.this.synchronized(qes += q)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Wait until the asynchronous listener bus has delivered everything. */
  def drain(): Unit = {
    def size = synchronized(jobs.size + tasks.size + stages.size + qes.size)
    var last = -1
    var quiet = 0
    val deadline = System.currentTimeMillis() + 15000L
    while (quiet < 5 && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      val s = size
      if (s == last) quiet += 1 else { quiet = 0; last = s }
    }
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  private def span(name: String, startMs: Long, opId: Int, parent: Int = -1): Unit =
    spans += Span(name, startMs, System.currentTimeMillis(), parent, opId)

  /** A timed side call into a frontend's public entry point (outside any
    * operation's span). `points` > 0 marks line-protocol parsing. */
  def frontend(name: String, points: Int = 0)(f: => Any): Unit = {
    val s = System.currentTimeMillis()
    val (_, ms) = timed(f)
    span(s"frontend.$name", s, -1)
    if (points > 0) sample("frontend.lp_parse_ms_per_kpoint", ms * 1000.0 / points)
    else sample(s"frontend.${name}_lower_ms", ms)
  }

  /** Replays a read request's handler in-process; the socket latency
    * minus the handler time is the server layer's share. */
  def replay(name: String, op: Op)(handler: => String): Unit = if (op.ok) {
    val s = System.currentTimeMillis()
    val (_, ms) = timed(handler)
    span(s"server.replay.$name", s, op.id)
    sample("server.http_ms", op.ms - ms)
  }

  def gen(ns: Long): Unit = sample("harness.gen_ms", ns / 1e6)

  /** Times one maintenance call inside a write operation. */
  def maintenance(f: => (Boolean, Long)): (Boolean, Long) = {
    val s = System.currentTimeMillis()
    val (r, ms) = timed(f)
    span("storage.maintenance", s, -1)
    sample("storage.maintenance_ms", ms)
    if (r._1) count("storage.compactions")
    count("storage.small_file_rewrites", r._2.toDouble)
    r
  }

  // ------------------------------------------------------- storage walks

  final case class FileInfo(dir: String, size: Long)
  private var seen = Map.empty[AnyRef, FileInfo]
  private var liveGenBefore = ""
  private var genPeak = 0
  private var diskPeak = 0L

  /** All regular files under the work directory, by inode (hard links
    * of untouched segments into a new generation are not new writes). */
  private def walk(): Map[AnyRef, (Path, Long)] = {
    val out = mutable.HashMap[AnyRef, (Path, Long)]()
    val s = Files.walk(workdir)
    try s.iterator().asScala.foreach { p =>
      try {
        if (Files.isRegularFile(p))
          out(Files.getAttribute(p, "unix:ino")) = (p, Files.size(p))
      } catch { case _: java.io.IOException => () } // deleted mid-walk
    } finally s.close()
    out.toMap
  }

  private def dataFiles(w: Map[AnyRef, (Path, Long)]): Map[AnyRef, FileInfo] =
    w.collect { case (ino, (p, size)) if p.toString.endsWith(".parquet") &&
        p.toString.startsWith(Paths.get(rawDir).getParent.toString) =>
      ino -> FileInfo(p.getParent.toString, size)
    }

  /** Snapshot the storage before the timed phase. */
  def startStorage(): Unit = {
    val w = walk()
    seen = dataFiles(w)
    diskPeak = w.values.map(_._2).sum
  }

  def beforeOp(liveGenDir: String): Unit = liveGenBefore = liveGenDir

  def afterOp(op: Op): Unit = {
    val s = System.currentTimeMillis()
    val w = walk()
    val files = dataFiles(w)
    files.foreach { case (ino, f) =>
      if (!seen.contains(ino)) {
        val appended = f.dir.startsWith(liveGenBefore)
        count("storage.files_written")
        count("storage.bytes_written", f.size.toDouble)
        if (appended) count("storage.append_bytes", f.size.toDouble)
      }
    }
    seen = files
    val gens = w.values.map(_._1.toString).filter(_.startsWith(rawDir))
      .map(p => Paths.get(rawDir).relativize(Paths.get(p)).getName(0).toString)
      .filter(_.startsWith("data")).toSet.size
    genPeak = math.max(genPeak, gens)
    diskPeak = math.max(diskPeak, w.values.map(_._2).sum)
    sample("harness.walk_ms", System.currentTimeMillis() - s)
  }

  // ----------------------------------------------------------- summary

  /** Per-layer metrics with the base each one is averaged over. */
  def summarize(ops: Seq[Op], liveFiles: Long, liveBytes: Long)
      : Seq[(String, Double, String)] = {
    val timed = ops.filter(o => o.ok && o.kind != "final").sortBy(_.startMs)
    val queries = timed.filter(_.kind == "query")
    val writes = timed.filter(_.kind == "write")
    def opAt(t: Long): Option[Op] = timed.find(o => o.startMs <= t && t <= o.endMs)
    val jobsByOp = synchronized(jobs.values.toSeq).groupBy(j => opAt(j.startMs).map(_.id))
    val qesByOp = synchronized(qes.toSeq).groupBy(q => opAt(q.startMs).map(_.id))
    val tasksIn = synchronized(tasks.toSeq).filter(t => opAt(t.launchMs).isDefined)
    val stagesIn = synchronized(stages.toSeq).count(t => opAt(t).isDefined)
    val n = math.max(1, timed.length).toDouble
    val nq = math.max(1, queries.length).toDouble
    val nw = math.max(1, writes.length).toDouble
    def per(xs: Seq[Op])(f: Op => Double): Double =
      if (xs.isEmpty) 0.0 else xs.map(f).sum / xs.length
    def qeSum(o: Op)(f: Qe => Double): Double = qesByOp.getOrElse(Some(o.id), Nil).map(f).sum
    def jobsOf(o: Op) = jobsByOp.getOrElse(Some(o.id), Nil)

    val driverMs = per(timed) { o =>
      // op wall not covered by any job: the union of job intervals
      val iv = jobsOf(o).map(j => (math.max(j.startMs, o.startMs),
        math.min(if (j.endMs < 0) o.endMs else j.endMs, o.endMs))).sortBy(_._1)
      var covered = 0L; var cur = Long.MinValue
      iv.foreach { case (a, b) =>
        val a1 = math.max(a, cur)
        if (b > a1) { covered += b - a1; cur = b }
      }
      math.max(0.0, o.ms - covered)
    }
    val rawReads = queries.flatMap(o => qesByOp.getOrElse(Some(o.id), Nil)).filter(_.readsRaw)
    val eligible = queries.filter(_.name == "rollup_sql")
    def mean(k: String) = samples.get(k).map(s => Stats.mean(s.toSeq)).getOrElse(0.0)
    def ctr(k: String) = counters.getOrElse(k, 0.0)
    val appendBytes = ctr("storage.append_bytes")

    Seq(
      ("frontend.lp_parse_ms_per_kpoint", mean("frontend.lp_parse_ms_per_kpoint"), "per 1,000 parsed lines"),
      ("frontend.influxql_lower_ms", mean("frontend.influxql_lower_ms"), "per InfluxQL.run call"),
      ("frontend.promql_lower_ms", mean("frontend.promql_lower_ms"), "per PromQL.eval call"),
      ("frontend.opentsdb_lower_ms", mean("frontend.opentsdb_lower_ms"), "per OpenTsdb.run call"),
      ("frontend.sql_lower_ms", mean("frontend.sql_lower_ms"), "per engine.execute call"),
      ("server.http_ms", mean("server.http_ms"), "per read request (socket minus in-process handler)"),
      ("server.response_bytes", per(timed)(_.responseBytes.toDouble), "per operation"),
      ("catalyst.analysis_ms", per(queries)(qeSum(_)(_.analysisMs)), "per query"),
      ("catalyst.optimization_ms", per(queries)(qeSum(_)(_.optimizationMs)), "per query"),
      ("catalyst.planning_ms", per(queries)(qeSum(_)(_.planningMs)), "per query"),
      ("plans.rollup_hit_ratio",
        if (eligible.isEmpty) 0.0
        else eligible.count(o => qesByOp.getOrElse(Some(o.id), Nil).exists(_.readsRollup)).toDouble / eligible.length,
        s"rollup-eligible queries (${eligible.length})"),
      ("engine.dedup_window_ratio",
        if (rawReads.isEmpty) 0.0 else rawReads.count(_.window).toDouble / rawReads.length,
        s"raw-table reads (${rawReads.length})"),
      ("execution.jobs_per_op", jobsByOp.collect { case (Some(_), js) => js.length }.sum / n, "per operation"),
      ("execution.stages_per_op", stagesIn / n, "per operation"),
      ("execution.tasks_per_op", tasksIn.length / n, "per operation"),
      ("execution.task_run_ms", tasksIn.map(_.runMs).sum / n, "per operation"),
      ("execution.task_deser_ms", tasksIn.map(_.deserMs).sum / n, "per operation"),
      ("execution.scheduler_delay_ms", tasksIn.map(_.schedDelayMs).sum / n, "per operation"),
      ("execution.gc_ms", tasksIn.map(_.gcMs).sum / n, "per operation"),
      ("execution.driver_ms", driverMs, "per operation"),
      ("execution.shuffle_read_bytes", tasksIn.map(_.shuffleRead).sum / n, "per operation"),
      ("execution.shuffle_write_bytes", tasksIn.map(_.shuffleWrite).sum / n, "per operation"),
      ("execution.spill_bytes", tasksIn.map(_.spill).sum / n, "per operation"),
      ("storage.files_scanned_per_query", per(queries)(qeSum(_)(_.files.toDouble)), "per query"),
      ("storage.bytes_scanned_per_query", per(queries)(qeSum(_)(_.bytes.toDouble)), "per query"),
      ("storage.partitions_read_per_query", per(queries)(qeSum(_)(_.partitions.toDouble)), "per query"),
      ("storage.append_job_ms", per(writes)(o => jobsOf(o).filter(_.callSite.contains("graft.engine.TsdbEngine"))
        .map(j => (if (j.endMs < 0) o.endMs else j.endMs) - j.startMs).sum.toDouble), "per write"),
      ("storage.files_written", ctr("storage.files_written") / nw, "per write"),
      ("storage.bytes_written", ctr("storage.bytes_written") / nw, "per write"),
      ("storage.write_amplification", if (appendBytes <= 0) 0.0 else ctr("storage.bytes_written") / appendBytes,
        "bytes written / bytes appended"),
      ("storage.maintenance_ms", mean("storage.maintenance_ms"), "per runMaintenance call"),
      ("storage.compactions", ctr("storage.compactions"), s"timed phase (${writes.length} writes)"),
      ("storage.small_file_rewrites", ctr("storage.small_file_rewrites"), s"segments, timed phase (${writes.length} writes)"),
      ("storage.live_files", liveFiles.toDouble, "end of run"),
      ("storage.live_bytes", liveBytes.toDouble, "end of run"),
      ("storage.generations_peak", genPeak.toDouble, "timed phase"),
      ("storage.disk_peak_bytes", diskPeak.toDouble, "work directory, timed phase"),
    )
  }

  def countersView: Map[String, Double] = counters.toMap
  def samplesView: Map[String, Seq[Double]] = samples.map { case (k, v) => k -> v.toSeq }.toMap
  def jobSpans(ops: Seq[Op]): Seq[Span] = {
    val timed = ops.sortBy(_.startMs)
    synchronized(jobs.values.toSeq).map { j =>
      val op = timed.find(o => o.startMs <= j.startMs && j.startMs <= o.endMs)
      Span(s"job ${j.callSite.takeWhile(_ != '\n')}", j.startMs, j.endMs,
        op.map(_.id).getOrElse(-1), op.map(_.id).getOrElse(-1))
    }
  }
}
