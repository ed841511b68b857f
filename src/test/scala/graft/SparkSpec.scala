package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: the engine's own session, 2 cores wide. */
object TestSpark {
  lazy val spark: SparkSession = Session("graft-test", cores = 2)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  import org.apache.spark.sql.{DataFrame, Row}

  /** One-column string DataFrame (nullable). */
  def strDf(name: String, values: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      java.util.Arrays.asList(values.map(Row(_)): _*),
      StructType(Seq(StructField(name, StringType, nullable = true))))
  }

  def collectStrings(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(r => Option(r.get(0)).map(_.toString).orNull)

  /** `body`'s result and the call site of every Spark job it submitted
    * (the name of each job's final stage), in submission order. */
  def jobsOf[T](body: => T): (T, Seq[String]) = {
    import org.apache.spark.GraftListenerBridge.waitForListeners
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        sites.add(e.stageInfos.sortBy(_.stageId).lastOption
          .map(_.name).getOrElse("?"))
    }
    waitForListeners(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val out = body
      waitForListeners(spark.sparkContext)
      (out, sites.toArray.toSeq.map(_.toString))
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
