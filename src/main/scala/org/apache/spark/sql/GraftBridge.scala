package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/**
 * Column ⇄ Expression bridge. Spark 4 made the classic converters
 * (`org.apache.spark.sql.classic.ExpressionUtils`) private[sql] as part of
 * the Connect split; a library shipping a custom Catalyst expression still
 * needs them on the classic runtime, hence this one-file package shim —
 * the standard pattern for Spark-native extension libraries.
 */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `t` with every field, array element and map value nullable: the
    * schema a parquet write stores and a parquet read returns. */
  def asNullable(t: types.StructType): types.StructType = t.asNullable

  /**
   * Eager Column → Expression conversion. `expression` wraps the column's
   * node in a LAZY `ColumnNodeExpression` that only unwraps on the normal
   * Dataset path — inside a SparkSessionExtensions function builder it
   * survives analysis unresolved and codegen then throws
   * `Cannot generate code for expression`. This converts the node tree
   * immediately; built-in calls become catalyst `UnresolvedFunction`s that
   * the analyzer's fixed-point function resolution then resolves like any
   * parsed SQL.
   */
  def expressionEager(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /**
   * Release the blocks behind a `localCheckpoint(true)`-ed DataFrame.
   * `Dataset.unpersist` is a no-op for checkpointed frames — their storage
   * was persisted at the RDD level inside localCheckpoint and is not
   * registered in the cacheManager — so iterative algorithms that
   * checkpoint per round must free rounds explicitly or hold
   * O(rounds × |rows|) storage until driver GC.
   */
  def freeCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.analyzed match {
      case lr: execution.LogicalRDD => lr.rdd.unpersist(blocking = false): Unit
      case _ => ()
    }
}
