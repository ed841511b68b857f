package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/**
 * Table catalog over the harness parquet layout (`TESTDATA.md`): one parquet
 * file per table under an sf directory. The Spark analogue of the reference's
 * information_schema introspection (`src/schema/schema-reader.ts:16-37`) —
 * parquet schemas are self-describing, so listing + `df.schema` replaces the
 * two metadata queries.
 */
object Tables {
  /** All harness tables, sorted (the reference sorts by table_name). */
  val names: Seq[String] = Seq(
    "customer", "documents", "embeddings", "events", "lineitem",
    "nation", "orders", "part", "region", "supplier")

  /**
   * Engine-internal convention: an event-time column named `ts` is an
   * epoch-NANOS long. The harness parquet has carried `ts` as
   * TIMESTAMP(NANOS) (readable only as a raw long, via `nanosAsLong`) and
   * later as TIMESTAMP(µs[, NTZ]) — this adapter accepts any of those
   * encodings and re-derives the exact nanos long, so downstream integer
   * arithmetic (`Q.tsCol`/`Q.tsSec`, window bucketing) is encoding-agnostic.
   * `unix_micros` on the µs-precision value is exact; the NTZ→TZ cast is an
   * identity reinterpretation under the UTC session zone every entrypoint
   * sets. Any other encoding fails loudly here, naming the drift, instead
   * of as nine opaque analysis errors downstream.
   *
   * SCOPE: applied only to the `events` table (in [[load]] /
   * [[catalogFromDir]]) — `ts` is the ENGINE's event-time convention, not
   * a claim about arbitrary user tables. A general-purpose connector
   * (`Sources.parquet`) must neither rewrite a user's legitimately
   * timestamp-typed `ts` column nor throw on a string one, so it stays
   * pass-through; callers with an events-shaped table opt in by calling
   * this adapter themselves.
   */
  private[graft] def normalizeTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) | None => df // already nanos-long (or no ts column)
      case Some(TimestampType) | Some(TimestampNTZType) =>
        df.withColumn("ts", expr("unix_micros(cast(ts as timestamp)) * 1000L"))
      case Some(other) =>
        throw new IllegalStateException(
          s"unsupported events.ts encoding $other: expected nanos-long, " +
            "TIMESTAMP or TIMESTAMP_NTZ (testdata drifted?)")
    }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Kept for TIMESTAMP(NANOS)-era data, where the only readable form is a
    // raw nanos-long; a no-op for µs-typed data (normalizeTs handles those).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = Read.parquet(spark, s"$dir/$name.parquet")
    if (name == "events") normalizeTs(raw) else raw
  }

  /** Full catalog for a scale-factor directory. */
  def catalog(spark: SparkSession, dir: String): Map[String, DataFrame] =
    names.map(n => n -> load(spark, dir, n)).toMap

  /**
   * Bucketed materialization — the layout-aware join primitive: write `df`
   * as a bucketed (and per-bucket sorted) catalog table at an explicit
   * external path and read it back. Spark records bucket metadata only in
   * the catalog (a path-based parquet write cannot carry it), so this is
   * the one write shape whose scans report
   * `HashPartitioning(bucketCols, nBuckets)` — two tables bucketed on
   * their join keys with EQUAL bucket counts then join with NO shuffle on
   * either side (EnsureRequirements sees both sides co-partitioned
   * through the join keys). Per-bucket sort order aids row-group
   * min-max skipping; Spark 3+ only ELIDES the SMJ sorts behind the
   * legacy `bucketedTableScan.outputOrdering` flag, so a cheap
   * partition-local sort remains — the shuffle is the scale cost and it
   * is gone. At 100 TB this is THE repeated-join strategy: pay
   * one layout write, then every subsequent join/aggregate on the bucket
   * key is exchange-free. Overwrite-safe for re-runs (external table is
   * dropped and re-created).
   */
  def bucketed(spark: SparkSession, df: DataFrame, table: String,
      path: String, bucketCols: Seq[String], sortCols: Seq[String],
      nBuckets: Int): DataFrame = {
    require(bucketCols.nonEmpty && nBuckets > 0)
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    // one file per bucket (hash-repartition on the bucket key first):
    // without it every input partition writes its own slice of every
    // bucket — input-partitions × nBuckets small files — and the
    // per-file sortBy order fragments with them
    val one = df.repartition(nBuckets,
      bucketCols.map(org.apache.spark.sql.functions.col): _*)
    val w = one.write.format("parquet").mode("overwrite")
      .option("path", path)
      .bucketBy(nBuckets, bucketCols.head, bucketCols.drop(1): _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.drop(1): _*)
     else w).saveAsTable(table)
    spark.table(table)
  }

  /**
   * Catalog by directory listing — any `<table>.parquet` under `dir`, sorted
   * by name (the reference's information_schema scan orders by table_name,
   * `schema-reader.ts:22`). Listing is driver-side metadata only.
   */
  def catalogFromDir(spark: SparkSession, dir: String): Map[String, DataFrame] = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
    // ListMap keeps the sorted-name iteration order (a plain Map would
    // rehash it away)
    scala.collection.immutable.ListMap(
      files.filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        .map { f =>
          val name = f.getName.stripSuffix(".parquet")
          val raw = Read.parquet(spark, f.getPath)
          name -> (if (name == "events") normalizeTs(raw) else raw)
        }
        .toSeq: _*)
  }
}
