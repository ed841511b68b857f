package graft
import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/**
 * Optimization-round diagnostic harness (guide §1): per declared query,
 * wall time (min of SPARK_GRAFT_REPS, default 2), Spark job/stage/task
 * counts and total shuffle read/write bytes from a listener, plus
 * `.explain("formatted")` dumped to a file. Same session, warm-up and
 * timed run as graft.Bench (SparkEntry's board loop), so numbers are
 * comparable with the bench board. A query that throws is named under
 * "failed" and the run exits 1. Never run by the driver; local tooling
 * only.
 *
 * Usage: tools/run.sh graft.Diag <outDir> [suffix]
 *   SPARK_GRAFT_ONLY selects queries; suffix names the plan files
 *   (<outDir>/<query>_<suffix>.txt, default "before"). Two dumps compare
 *   with tools/plandiff.py.
 */
object Diag {
  def main(args: Array[String]): Unit = {
    val outDir = if (args.nonEmpty) args(0) else "plans/r17"
    val suffix = if (args.length > 1) args(1) else "before"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val spark = Session("graft-diag")
    val jobs = new AtomicInteger; val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val shR = new AtomicLong; val shW = new AtomicLong
    val spillD = new AtomicLong
    // SPARK_GRAFT_JOBLOG=1: per-job wall times with call sites, for
    // attributing a multi-job query's cost to its driver round-trips
    // (which collect/persist/broadcast eats the time) — local tooling,
    // off by default, noisy on full sweeps.
    val jobLogEnv = sys.env.contains("SPARK_GRAFT_JOBLOG")
    val jobLog = new java.util.concurrent.atomic.AtomicBoolean(false)
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (jobLog.get) jobStart.put(j.jobId, (System.nanoTime(),
          j.stageInfos.lastOption.map(_.name).getOrElse("?")))
      }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        // remove unconditionally: a job ending after jobLog flips false
        // must still clear its entry, or the map grows across a sweep
        val started = Option(jobStart.remove(j.jobId))
        if (jobLog.get) started.foreach { case (t0, cs) =>
          println(f"    [job ${j.jobId}%3d] ${(System.nanoTime() - t0) / 1e9}%7.3f s  $cs")
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          shR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          spillD.addAndGet(m.diskBytesSpilled)
        }
      }
    })
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.selectedQueries
    SparkEntry.warm(spark, selected, sfDir)
    val failed = Seq.newBuilder[String]
    val rows = selected.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      spark.sparkContext.setJobDescription(name)
      // plan dump (pre-execution; AQE initial plan)
      try {
        val pw = new java.io.PrintWriter(s"$outDir/${name}_$suffix.txt")
        try pw.println(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        finally pw.close()
      } catch { case e: Throwable =>
        System.err.println(s"[diag] explain $name failed: ${e.getMessage}")
      }
      SparkEntry.clear(spark)
      var best = Double.MaxValue
      var err: Option[Throwable] = None
      var (bj, bs, bt, br, bw, bsp) = (0, 0, 0, 0L, 0L, 0L)
      for (rep <- 1 to reps if err.isEmpty) {
        jobs.set(0); stages.set(0); tasks.set(0)
        shR.set(0); shW.set(0); spillD.set(0)
        if (jobLogEnv) { println(s"  -- $name rep $rep"); jobLog.set(true) }
        val r = SparkEntry.timed(spark, fn, sfDir)
        jobLog.set(false)
        // listener events are async: drain the bus before reading counters
        GraftListenerBridge.waitForListeners(spark.sparkContext)
        r match {
          case Left(e) => err = Some(e)
          case Right(dt) => if (dt < best) {
            best = dt
            bj = jobs.get; bs = stages.get; bt = tasks.get
            br = shR.get; bw = shW.get; bsp = spillD.get
          }
        }
      }
      err match {
        case Some(e) =>
          println(f"$name%-28s FAILED: ${e.getMessage}")
          failed += name
          None
        case None =>
          println(f"$name%-28s ${best}%8.3f s  jobs=$bj%-3d stages=$bs%-3d " +
            f"tasks=$bt%-5d shufR=${br / 1024}%8d KiB shufW=${bw / 1024}%8d KiB " +
            f"spill=${bsp / 1024}%d KiB")
          Some((name, best, bj, bs, bt, br, bw))
      }
    }
    val total = rows.map(_._2).sum
    println(f"TOTAL ${total}%.3f s over ${rows.size} queries")
    val failedNames = failed.result()
    if (failedNames.nonEmpty)
      println(failedNames.map("\"" + _ + "\"").mkString("""{"failed":[""", ",", "]}"))
    // machine-readable summary for diffing
    val pw = new java.io.PrintWriter(s"$outDir/diag_$suffix.tsv")
    try {
      pw.println("query\tsec\tjobs\tstages\ttasks\tshuf_read\tshuf_write")
      rows.foreach { case (n, t, j, s, k, r, w) =>
        pw.println(f"$n\t$t%.3f\t$j\t$s\t$k\t$r\t$w")
      }
    } finally pw.close()
    spark.stop()
    if (failedNames.nonEmpty) sys.exit(1)
  }
}
