package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** package-private bridge: build a DataFrame from a custom LogicalPlan,
  * read a DataFrame's analyzed plan, drain the listener bus. The one
  * (standard) place graft touches Spark-internal API — everything else is
  * public surface. */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def logicalPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  /** Full ColumnNode → catalyst Expression conversion (handles .desc etc.,
    * unlike ExpressionUtils.expression which only lazily wraps the node). */
  def expr(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** Blocks until every posted listener event has been delivered: job and
    * stage counters kept by a SparkListener are complete only after that. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
