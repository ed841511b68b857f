package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** graft.Read.parquet: the schema Spark's inference gives, read from one
  * footer on the driver, so building the frame runs no Spark job. */
class ReadSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def tmp(tag: String) =
    Files.createTempDirectory(s"graft_read_$tag").toString

  /** What a read gives: its schema and sorted rows, or the exception's
    * class where it throws (building the frame or collecting it). */
  private def outcome(read: => DataFrame): Either[String, (String, Seq[String])] =
    try {
      val df = read
      Right((df.schema.json, df.collect().map(_.toString).toSeq.sorted))
    } catch { case e: Exception => Left(e.getClass.getName) }

  private def sameAsSpark(path: String): Unit = {
    val want = outcome(spark.read.parquet(path))
    assert(outcome(Read.parquet(spark, path)) == want, path)
  }

  private def withNanosAsLong[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, on.toString)
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def partFiles(dir: String): Seq[java.nio.file.Path] = {
    val s = Files.list(Paths.get(dir))
    try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.startsWith("part-")).sortBy(_.toString)
    finally s.close()
  }

  test("every board fixture table reads with Spark's own schema and rows " +
      "(events under nanosAsLong too)") {
    Tables.names.foreach(n => sameAsSpark(s"$sf/$n.parquet"))
    withNanosAsLong(on = true)(sameAsSpark(s"$sf/events.parquet"))
    withNanosAsLong(on = false)(sameAsSpark(s"$sf/events.parquet"))
  }

  test("a multi-part directory, one of its part files, and a directory " +
      "whose part files disagree read as spark.read.parquet does") {
    val dir = tmp("parts") + "/t"
    spark.range(0, 300).select(col("id"), (col("id") % 7).as("g"),
        col("id").cast("string").as("s"))
      .repartition(3).write.parquet(dir)
    assert(partFiles(dir).size == 3, "three part files")
    sameAsSpark(dir)
    sameAsSpark(partFiles(dir).head.toString)
    // the first data file by path decides the schema, as in Spark's
    // inference with schema merging off
    val narrow = tmp("narrow") + "/t"
    spark.range(0, 5).select(col("id")).coalesce(1).write.parquet(narrow)
    val mixed = tmp("mixed")
    Files.copy(partFiles(narrow).head, Paths.get(mixed, "a.parquet"))
    Files.copy(partFiles(dir).head, Paths.get(mixed, "b.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    sameAsSpark(mixed)
    assert(Read.parquet(spark, mixed).columns.toSeq == Seq("id"))
  }

  test("an empty directory, a missing path and a key=value partitioned " +
      "directory behave as spark.read.parquet does") {
    val empty = tmp("empty")
    sameAsSpark(empty)
    assert(outcome(Read.parquet(spark, empty)).isLeft,
      "an empty directory has no schema to infer")
    sameAsSpark(empty + "/missing")
    val parted = tmp("parted") + "/t"
    spark.range(0, 40).select(col("id"), (col("id") % 3).as("p"))
      .write.partitionBy("p").parquet(parted)
    sameAsSpark(parted)
    assert(Read.parquet(spark, parted).columns.toSeq == Seq("id", "p"))
  }

  test("Read.parquet and Tables.catalog submit no Spark job") {
    val dir = tmp("jobs") + "/t"
    spark.range(0, 50).repartition(2).write.parquet(dir)
    val (_, jobs) = jobsOf {
      Read.parquet(spark, dir).schema
      Tables.catalog(spark, sf).values.foreach(_.schema)
    }
    assert(jobs.isEmpty, s"jobs: $jobs")
    // the plain read infers its schema with a job: the listener sees jobs
    val (_, plain) = jobsOf(spark.read.parquet(dir).schema)
    assert(plain.nonEmpty, "the listener must see an inference job")
  }

  test("local writes go through NioLocalFileSystem, and a written parquet " +
      "directory and its files get the stock filesystem's POSIX modes") {
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"),
      spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass.getName)
    /** relative path (part-file uuids masked) → mode, over the whole tree */
    def modes(dir: String): Map[String, String] = {
      val root = Paths.get(dir)
      val s = Files.walk(root)
      try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path]).map(p =>
        root.relativize(p).toString.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "U") ->
          java.nio.file.attribute.PosixFilePermissions.toString(
            Files.getPosixFilePermissions(p))).toMap
      finally s.close()
    }
    val df = spark.range(100).repartition(2).toDF("x")
    val nio = s"${tmp("nio_modes")}/t.parquet"
    val stock = s"${tmp("stock_modes")}/t.parquet"
    df.write.parquet(nio)
    df.write.option("fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem")
      .option("fs.file.impl.disable.cache", "true").parquet(stock)
    val (got, want) = (modes(nio), modes(stock))
    assert(got.keySet.exists(_.endsWith(".crc")) && got.size >= 6, got)
    assert(got == want)
  }
}
