package graft

import org.apache.spark.sql.SparkSession

/**
 * The one session factory: every entry point (Bench, Diag, Verify, the
 * Anonymize/Curate/Prepare/Ann CLIs, the test session) builds its
 * SparkSession here, so the engine that is tested, verified and benched
 * is one engine. Idempotent: `getOrCreate` hands back the live session
 * when one exists.
 *
 * Width follows one rule from the two environment variables:
 * `cores` = SPARK_GRAFT_CPUS, else the JVM's available processors;
 * master = SPARK_MASTER, else `local[cores]`; shuffle partitions = `cores`.
 *
 * `spark.sql.legacy.parquet.nanosAsLong` is deliberately absent: the
 * readers that need it (`Tables.load`/`catalogFromDir`, `Sources`) set it
 * before every read.
 */
object Session {
  private def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(appName: String): SparkSession = apply(appName, cores)

  /** Fixed-width variant for the test session. */
  private[graft] def apply(appName: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cores]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // AQE inside persisted subplans (off by default): without it every
      // persist() materializes its exchanges at the raw shuffle.partitions
      // width — the iterative operators (closures, CC, trainers) cache per
      // round and were paying hundreds of near-empty tasks per query
      // (q_tree_rollup: 2825 tasks at sf0.1). Scale-independent: this only
      // lets AQE size cached-plan shuffles like it already sizes uncached
      // ones.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      // Janino class cache (STATIC conf, default 100 entries): a session
      // running hundreds of distinct query plans generates thousands of
      // codegen fragments, so a 100-entry LRU recompiles nearly every
      // fragment on every reuse (janino ~10-50 ms per fragment, pure
      // driver time). 4096 keeps a full board's fragments resident;
      // scale-independent (driver-side JVM cache, bounded by entry count).
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
