package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.BusBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.metrics.source.CodegenMetrics

/** One timed call into the program: name, start, end and the span that
  * contained it (-1 for a root). Times are nanoTime relative to the run. */
final case class Span(id: Int, name: String, parent: Int,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/**
 * Spans around the benchmark's calls into public program functions. The
 * Spark driver's main thread is the only caller, so the parent is the
 * innermost open span. Spans are kept in memory and written out when the
 * run ends; a span costs two clock reads, so they are recorded with
 * tracing off too.
 */
final class Spans {
  private val t0 = System.nanoTime()
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = open.headOption.getOrElse(-1)
    val start = System.nanoTime() - t0
    open = id :: open
    try body
    finally {
      open = open.tail
      done += Span(id, name, parent, start, System.nanoTime() - t0)
    }
  }

  def now: Long = System.nanoTime() - t0
  def all: Seq[Span] = done.toSeq.sortBy(_.id)
  def within(fromNs: Long, toNs: Long): Seq[Span] =
    all.filter(s => s.startNs >= fromNs && s.endNs <= toNs)

  /** Per span name: (calls, total seconds, self seconds), where self time
    * is a span's duration minus the part of it its children cover. */
  def breakdown(spans: Seq[Span]): Seq[(String, Int, Double, Double)] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).toSeq.map { case (name, ss) =>
      val total = ss.map(_.seconds).sum
      val self = ss.map { s =>
        s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum
      }.sum
      (name, ss.size, total, self)
    }.sortBy(-_._3)
  }
}

/**
 * Spark runtime counters for the traced run, from public hooks only: a
 * SparkListener (jobs, stages, tasks, task metrics and task intervals), a
 * QueryExecutionListener (QueryPlanningTracker phase times) and the codegen
 * compile counters. They count only inside windows opened by `begin` and
 * closed by `end` around each op's timed part, so the benchmark's own check
 * jobs between ops are left out; both drain the listener bus first, so an
 * event lands in the window its job ran in.
 */
final class SparkCounters(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private var open = false
  private var jobs, stages, tasks = 0L
  private var runMs, cpuNs, shufW, shufR, fetchMs, spill, inB, outB = 0L
  private var planningMs, compileNs, compiles, gcMs, wallMs, busyMs = 0L
  private val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStart = mutable.Map.empty[Int, (Long, String)]
  private val jobSecondsBySite = mutable.Map.empty[String, Double]
  private var startMs, compileNs0, compiles0, gcMs0 = 0L

  private def gcTotalMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def install(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  def begin(): Unit = {
    BusBridge.drain(spark)
    synchronized {
      open = true
      taskSpans.clear()
      compileNs0 = CodeGenerator.compileTime
      compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      gcMs0 = gcTotalMs
      startMs = System.currentTimeMillis()
    }
  }

  def end(): Unit = {
    BusBridge.drain(spark)
    synchronized {
      val endMs = System.currentTimeMillis()
      open = false
      wallMs += endMs - startMs
      busyMs += covered(startMs, endMs)
      compileNs += CodeGenerator.compileTime - compileNs0
      compiles += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      gcMs += gcTotalMs - gcMs0
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (open) {
      jobs += 1
      // the final stage's name is the job's call site, "action at File:line"
      val site = if (e.stageInfos.isEmpty) "?"
        else e.stageInfos.maxBy(_.stageId).name
      jobStart(e.jobId) = (e.time, site)
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t, site) =>
      jobSecondsBySite(site) =
        jobSecondsBySite.getOrElse(site, 0.0) + (e.time - t) / 1e3
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { if (open) stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (open) {
      tasks += 1
      taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        runMs += m.executorRunTime
        cpuNs += m.executorCpuTime
        shufW += m.shuffleWriteMetrics.bytesWritten
        shufR += m.shuffleReadMetrics.totalBytesRead
        fetchMs += m.shuffleReadMetrics.fetchWaitTime
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        inB += m.inputMetrics.bytesRead
        outB += m.outputMetrics.bytesWritten
      }
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    if (open) planningMs += qe.tracker.phases.values.map(_.durationMs).sum
  }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** Milliseconds of [from, to] covered by at least one task. */
  private def covered(from: Long, to: Long): Long = {
    val iv = taskSpans.map { case (a, b) => (a.max(from), b.min(to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = curB.max(b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Totals over all windows, as (metric name -> value), and job seconds
    * per call site. */
  def snapshot(cores: Int): (Map[String, Double], Seq[(String, Double)]) =
    synchronized {
      val mb = 1024.0 * 1024.0
      val m = Map(
        "spark.planning_s" -> planningMs / 1e3,
        "spark.codegen_compile_s" -> compileNs / 1e9,
        "spark.codegen_compiles" -> compiles.toDouble,
        "spark.idle_s" -> (wallMs - busyMs) / 1e3,
        "spark.jobs" -> jobs.toDouble,
        "spark.stages" -> stages.toDouble,
        "spark.tasks" -> tasks.toDouble,
        "spark.task_run_s" -> runMs / 1e3,
        "spark.task_cpu_s" -> cpuNs / 1e9,
        "spark.gc_s" -> gcMs / 1e3,
        "spark.slot_busy_ratio" -> runMs.toDouble / (wallMs.max(1L) * cores),
        "spark.shuffle_write_mb" -> shufW / mb,
        "spark.shuffle_read_mb" -> shufR / mb,
        "spark.fetch_wait_s" -> fetchMs / 1e3,
        "spark.spill_mb" -> spill / mb,
        "spark.input_mb" -> inB / mb,
        "spark.output_mb" -> outB / mb)
      (m, jobSecondsBySite.toSeq.sortBy(-_._2))
    }

  /** Seconds inside the windows. */
  def windowSeconds: Double = synchronized(wallMs / 1e3)
}
