package graft

import org.apache.spark.sql.SparkSession

/**
 * The engine's shared job pool. Per-table Spark jobs (counts, writes,
 * reads, configGen samples) are independent, so they are submitted
 * concurrently: the scheduler then pipelines tables instead of idling the
 * cluster on each table's straggler tasks before starting the next. Spark
 * job submission is thread-safe; results keep item order, and a failure
 * in any job surfaces with its original exception.
 */
private[graft] object Jobs {
  private lazy val pool = java.util.concurrent.Executors.newFixedThreadPool(
    8, (r: Runnable) => { val t = new Thread(r, "graft-engine-job"); t.setDaemon(true); t })

  /** `f` over every item on the pool; results in item order. */
  def inParallel[A, B](items: Seq[A])(f: A => B): Seq[B] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // Each job is wrapped in Try so a failure does NOT fail the traverse
    // early: every submitted job runs to completion before the first
    // failure is rethrown (in item order). Fail-fast would return while
    // sibling Spark jobs are still writing — callers that clean up after
    // an error (dryRunRehearsed's finally-delete) would then race
    // in-flight writers.
    Await.result(Future.traverse(items)(a => Future(scala.util.Try(f(a)))),
      Duration.Inf).map(_.get)
  }

  /**
   * Runs `body` with its Spark jobs named `site` (e.g. "Engine.apply
   * public.users"): the stage name listeners, traces and Diag attribute
   * job time by. Without it a pooled job's call site is the pool's own
   * stack frame (`CompletableFuture.java`), not an engine step. The
   * thread's previous call site is restored afterwards (none, on a pool
   * thread).
   */
  def named[T](spark: SparkSession, site: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(CallSiteShort)
    sc.setCallSite(site)
    try body finally sc.setLocalProperty(CallSiteShort, prev)
  }

  // Spark's CallSite.SHORT_FORM key (private[spark])
  private val CallSiteShort = "callSite.short"
}
