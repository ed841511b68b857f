package graft.operators

import graft.Read
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Data-layout operators: Z-order (Morton) clustering for multi-dimensional
 * range pruning.
 *
 * A table range-partitioned and sorted by a single key prunes scans on that
 * key only; interleaving the bits of two keys into one z-value and
 * clustering on it gives every parquet row group a tight min/max envelope
 * in BOTH dimensions, so predicates on either column skip row groups. This
 * is the standard lakehouse layout technique for 100 TB fact tables queried
 * along more than one axis.
 *
 * Pure bit arithmetic over built-in expressions — whole-stage codegen
 * flattens the per-bit terms into straight-line code, so no custom
 * Expression is needed (see DotProduct for the case where one was).
 */
object Layout {

  /**
   * Morton z-value: interleave the low `bits` bits of two non-negative
   * keys — x occupies even bit positions, y odd. Values beyond `bits`
   * bits are masked off by construction.
   */
  def zValue2(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    val xs = x.cast("long")
    val ys = y.cast("long")
    (0 until bits).flatMap { i =>
      Seq(shiftleft(shiftright(xs, i).bitwiseAND(1), 2 * i),
        shiftleft(shiftright(ys, i).bitwiseAND(1), 2 * i + 1))
    }.reduce(_.bitwiseOR(_))
  }

  /**
   * Write `df` parquet z-clustered on (xCol, yCol): range-partition by the
   * z-value (so files hold disjoint z-ranges), sort within partitions (so
   * row groups hold tight ranges), then drop the helper column. The write
   * is `numFiles`-way parallel; at cluster scale size it to the target
   * file count, not the session default.
   */
  def zorderWrite(df: DataFrame, xCol: String, yCol: String,
      path: String, numFiles: Int, bits: Int = 16): Unit =
    df.withColumn("__z", zValue2(col(xCol), col(yCol), bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  /**
   * Small-file compaction: rewrite a parquet directory into
   * ceil(totalBytes / targetBytes) files. Streaming ingest and per-batch
   * writes fragment tables into thousands of KB-sized files whose
   * open/footer overhead dominates scans at 100 TB; periodic compaction to
   * ~128 MB files restores scan efficiency. File sizing comes from
   * filesystem metadata — no data pass beyond the single rewrite.
   * Returns the output file count.
   */
  def compact(spark: org.apache.spark.sql.SparkSession, inPath: String,
      outPath: String, targetBytes: Long = 128L << 20): Int = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    // resolve against each path's OWN filesystem (s3a://, hdfs://, file:)
    // and compare fully-qualified URIs so no spelling of the same
    // directory slips past the in-place guard
    val inFs = new Path(inPath).getFileSystem(conf)
    val outFs = new Path(outPath).getFileSystem(conf)
    val inQ = inFs.makeQualified(new Path(inPath))
    val outQ = outFs.makeQualified(new Path(outPath))
    require(inQ != outQ, "compact cannot overwrite its input in place")
    val totalBytes = inFs.getContentSummary(inQ).getLength
    val files = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    Read.parquet(spark, inPath).repartition(files)
      .write.mode("overwrite").parquet(outPath)
    // report what actually landed (empty partitions write no file)
    outFs.listStatus(outQ)
      .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
  }

  /**
   * Compaction PLAN — the relational (and oracle-checkable) half of
   * [[compact]], and the same sorted-fill rule Spark's own
   * FilePartition packing approximates: within each `groupCol` (a
   * partition directory), walk items in `orderCol` order (the listing
   * order) and assign bin = exclusive-prefix-bytes div `targetBytes`.
   * A straddling item lands in the bin its prefix opened, so every bin
   * holds < target bytes of prefix plus at most one overhang — the
   * bounded-overfill convention. Returns one row per (group, bin) with
   * the item count and byte total: the work list a compactor executes
   * and the report that says whether compaction is worth running.
   *
   * Scale: ONE window partitioned by the directory group (never a global
   * sort) + ONE hash aggregate; input is file METADATA — rows per file,
   * not per record — so this plans a 100 TB table from listing-scale
   * input.
   */
  def compactionBins(files: DataFrame, groupCol: String, orderCol: String,
      sizeCol: String, targetBytes: Long): DataFrame = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(orderCol)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    files
      .withColumn("__pre", coalesce(sum(col(sizeCol)).over(w), lit(0L)))
      .withColumn("bin", expr(s"__pre div ${targetBytes}L"))
      .groupBy(col(groupCol), col("bin"))
      .agg(count(lit(1)).as("n_files"), sum(col(sizeCol)).as("bytes"))
  }
}
