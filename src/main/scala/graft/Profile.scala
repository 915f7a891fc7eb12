package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Optimization-round instrumentation (guide §1: measure first).
  *
  * Runs the named registry queries in isolation — same session settings as
  * [[Bench]] — and prints, per run: wall seconds, Spark job count, stage
  * count, task count, shuffle bytes read/written, and (optionally) writes
  * the `.explain("formatted")` plan to a file. Job/stage/task counts are
  * the pass-structure evidence the bench line can't show: a query whose
  * wall time is mostly "many tiny jobs" needs its algorithm de-staged, not
  * its expressions tuned.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *   sbt 'runMain graft.Profile q273_ivf_rebalance,q133_ann_pq 3 plans/r12'
  * (3rd arg optional: directory to write <name>_plan.txt explain dumps)
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val iters = if (args.length > 1) args(1).toInt else 2
    val planDir = if (args.length > 2) Some(args(2)) else None
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    TempDirs.sweepStale()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.tune(spark)

    // mirror Bench's warmup so first-run numbers are comparable
    def quietly(f: => Any): Unit = try f catch { case _: Throwable => () }
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings")
      .foreach(n => quietly(Tables.t(spark, sfDir, n).count()))
    quietly(SparkEntry.entry(spark).count())
    quietly(spark.sql(
      "SELECT upper('w'), lower('W'), initcap('w'), regexp_replace('a','a','b')").collect())
    quietly(queries.Protocols.warmIngest(spark, sfDir))

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var shufRead = 0L
    @volatile var shufWrite = 0L
    @volatile var taskRun = 0L
    @volatile var taskDeser = 0L
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val jobDurs = new java.util.concurrent.ConcurrentLinkedQueue[(Double, String)]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs += 1
        val site = Option(j.properties)
          .map(_.getProperty("callSite.short", "?")).getOrElse("?")
        jobStart.put(j.jobId, (System.nanoTime(), site))
      }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val s = jobStart.remove(j.jobId)
        if (s != null)
          jobDurs.add(((System.nanoTime() - s._1) / 1e9, s._2))
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages += 1
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks += 1
        val m = t.taskMetrics
        if (m != null) {
          shufRead += m.shuffleReadMetrics.totalBytesRead
          shufWrite += m.shuffleWriteMetrics.bytesWritten
          taskRun += m.executorRunTime
          taskDeser += m.executorDeserializeTime
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // streaming breakdown: one line per micro-batch with the durationMs
    // phases (where a streaming query's fixed cost actually goes)
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          val p = e.progress
          println(s"[stream] batch=${p.batchId} rows=${p.numInputRows} " +
            s"durationMs=${p.durationMs}")
        }
      })

    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(s"[profile] UNKNOWN query: $name")
        case Some(fn) =>
          planDir.foreach { d =>
            try {
              val df = fn(spark, sfDir)
              val txt = df.queryExecution.explainString(
                org.apache.spark.sql.execution.FormattedMode)
              java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
              java.nio.file.Files.writeString(
                java.nio.file.Paths.get(s"$d/${name}_plan.txt"), txt)
            } catch { case e: Throwable =>
              println(s"[profile] explain failed for $name: ${e.getMessage}")
            }
          }
          (1 to iters).foreach { i =>
            spark.sparkContext.setJobDescription(s"$name run $i")
            jobs = 0; stages = 0; tasks = 0; shufRead = 0L; shufWrite = 0L
            taskRun = 0L; taskDeser = 0L
            jobDurs.clear()
            import scala.jdk.CollectionConverters._
            def gcMs: Long = java.lang.management.ManagementFactory
              .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
            val gc0 = gcMs
            val t0 = System.nanoTime()
            val ok = try { fn(spark, sfDir).count(); true }
              catch { case e: Throwable =>
                println(s"[profile] $name threw: ${e.getMessage}")
                e.printStackTrace(System.out); false }
            val dt = (System.nanoTime() - t0) / 1e9
            // Bench-equivalent inter-query reclaim
            spark.sparkContext.getPersistentRDDs.values
              .foreach(r => quietly(r.unpersist(blocking = false)))
            Thread.sleep(200) // let listener events drain
            println(f"[profile] $name run $i: $dt%.3f s ok=$ok " +
              f"jobs=$jobs stages=$stages tasks=$tasks " +
              f"shufR=${shufRead / 1024}%dK shufW=${shufWrite / 1024}%dK " +
              f"load=${Bench.loadAvg()}%.2f")
            val top = jobDurs.asScala.toSeq.sortBy(-_._1).take(8)
            val sumAll = jobDurs.asScala.map(_._1).sum
            println(f"[profile]   job-time sum=$sumAll%.2f " +
              f"taskRun=${taskRun}%dms taskDeser=${taskDeser}%dms " +
              f"gc=${gcMs - gc0}%dms top: " +
              top.map { case (d, s) => f"$s=$d%.2f" }.mkString(", "))
          }
      }
    }
    spark.stop()
  }
}
