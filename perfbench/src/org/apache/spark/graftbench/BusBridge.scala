package org.apache.spark.graftbench

import org.apache.spark.sql.SparkSession

/** Waits until every event posted so far reached the listeners, so a
  * traced window's counters are complete when they are read. The listener
  * bus is spark-private; this shim is the only reason for the package. */
object BusBridge {
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
