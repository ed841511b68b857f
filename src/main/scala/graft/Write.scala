package graft

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Parquet writes of driver-held rows — [[Read.small]]'s twin. */
object Write {

  /**
   * `rows` written to `dir` on the driver, replacing what is there, as a
   * one-task `df.coalesce(1).write.parquet(dir)` would write them but
   * without the job: one `part-00000-<uuid>-c000<ext>` file through
   * Spark's own `ParquetFileFormat.prepareWrite` → `OutputWriter` (so the
   * session's codec, timestamp and legacy-format settings apply, and the
   * footer carries Spark's row metadata), then an empty `_SUCCESS`. The
   * schema is stored as given, nullability included, as a Spark write of
   * a frame with that schema stores it; zero rows still write one file,
   * which carries the schema. No commit protocol: callers that need
   * atomicity stage the directory and rename it (what `Ann.build` does).
   */
  def small(spark: SparkSession, dir: String, schema: StructType,
      rows: Seq[Row]): Unit = {
    val out = new Path(dir)
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val fs = out.getFileSystem(job.getConfiguration)
    fs.delete(out, true)
    fs.mkdirs(out)
    val factory = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, schema)
    val uuid = java.util.UUID.randomUUID().toString
    val ctx = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID(new TaskID(new JobID(uuid, 0), TaskType.MAP, 0), 0))
    val writer = factory.newInstance(
      new Path(out, s"part-00000-$uuid-c000${factory.getFileExtension(ctx)}")
        .toString, schema, ctx)
    val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)
    try rows.foreach(r => writer.write(toInternal(r).asInstanceOf[InternalRow]))
    finally writer.close()
    fs.create(new Path(out, "_SUCCESS"), true).close()
  }
}
