package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session("graft-verify")
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.selectedQueries
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries that persist an internal stage (q_tfidf's tokenize+tf,
      // the dedup signature stages) must not leak cached blocks into the
      // ~100 queries that follow in this shared session
      SparkEntry.clear(spark)
    }
    // JSON string escape (shared with ConfigIO's report writer): a tab or
    // CR in builder-authored SQL would otherwise make the driver's
    // json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + ConfigIO.jsonEscape(s) + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
