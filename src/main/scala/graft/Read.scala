package graft

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/**
 * Parquet reads that plan without running a job. `spark.read.parquet(path)`
 * infers the schema with `ParquetFileFormat.mergeSchemasInParallel`, a
 * Spark job even for one file. With schema merging off, that job reads one
 * footer: the first data file's by path string (`ParquetUtils.inferSchema`).
 * [[parquet]] reads that same footer on the driver, converts it with the
 * same function under the session's SQLConf (`nanosAsLong`, INT96 and the
 * Spark row metadata map as they do there), and passes the schema to
 * `spark.read.schema`. Each read resolves its own footer, so a column a
 * writer dropped still fails to resolve downstream.
 *
 * Anything the one-footer rule does not cover reads the plain way, so
 * Spark's own behaviour and errors are unchanged: schema merging on, a
 * glob, a subdirectory (partition discovery), a `_metadata` /
 * `_common_metadata` summary, no data file, or a footer that fails to read.
 *
 * [[small]] goes one step further for metadata-scale directories (an ANN
 * index's centroids, codebook, scales, rotation or projection): it reads
 * the rows themselves on the driver, through the reader a scan task would
 * use, so no job runs at all. [[Write.small]] is its writing twin.
 */
object Read {

  def parquet(spark: SparkSession, path: String): DataFrame =
    footerPlan(spark, path) match {
      case Some((schema, _)) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }

  /**
   * The rows `spark.read.parquet(dir).collect()` returns, with the same
   * schema, read on the driver without a job: every data file, in path
   * order, through `ParquetFileFormat.buildReaderWithPartitionValues` (row
   * mode) against the schema [[parquet]] would plan. For directories of a
   * few thousand rows at most; what [[parquet]]'s one-footer rule does not
   * cover collects the plain way.
   */
  def small(spark: SparkSession, dir: String): Array[Row] =
    footerPlan(spark, dir) match {
      case None => spark.read.parquet(dir).collect()
      case Some((fileSchema, files)) =>
        val schema = GraftBridge.asNullable(fileSchema)
        val read = new ParquetFileFormat().buildReaderWithPartitionValues(
          spark, schema, new StructType(), schema, Nil,
          Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
          spark.sessionState.newHadoopConf())
        val toRow = CatalystTypeConverters.createToScalaConverter(schema)
        files.toArray.flatMap { f =>
          read(PartitionedFile(InternalRow.empty, SparkPath.fromFileStatus(f),
              0L, f.getLen, Array.empty[String], f.getModificationTime,
              f.getLen))
            .map(r => toRow(r).asInstanceOf[Row])
        }
    }

  /** The schema Spark's inference would give `path` and its data files in
    * path order, or None where the plain read must decide. */
  private def footerPlan(spark: SparkSession,
      path: String): Option[(StructType, Seq[FileStatus])] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled ||
        path.exists("{}[]*?\\".contains(_))) return None
    try {
      val hadoopConf = spark.sessionState.newHadoopConf()
      val p = new Path(path)
      val listed = p.getFileSystem(hadoopConf).listStatus(p).toSeq
      if (listed.exists(s => isSummary(s.getPath.getName))) return None
      val visible = listed.filterNot(s => hidden(s.getPath.getName))
      if (visible.exists(_.isDirectory)) return None
      val files = visible.sortBy(_.getPath.toString)
      files.headOption.map { first =>
        (ParquetFileFormat.readSchemaFromFooter(footer(first, hadoopConf),
          new ParquetToSparkSchemaConverter(conf)), files)
      }
    } catch { case NonFatal(_) => None }
  }

  private def footer(file: FileStatus, hadoopConf: Configuration): Footer = {
    val options = HadoopReadOptions.builder(hadoopConf, file.getPath)
      .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build()
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromStatus(file, hadoopConf), options)
    try new Footer(file.getPath, reader.getFooter) finally reader.close()
  }

  private def isSummary(name: String): Boolean =
    name == ParquetFileWriter.PARQUET_METADATA_FILE ||
      name == ParquetFileWriter.PARQUET_COMMON_METADATA_FILE

  // InMemoryFileIndex.shouldFilterOutPathName, less the summary files
  // (which send the read down the plain path above)
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")
}
