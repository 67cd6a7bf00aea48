package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` Column <-> Expression conversions for the
  * graft engine's custom Catalyst expressions (Spark 4 moved these behind
  * the classic/connect split; this is the sanctioned classic path).
  */
object GraftBridge {
  def toExpr(c: Column): Expression = ExpressionUtils.expression(c)
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)

  /** Wrap a custom LogicalPlan as a DataFrame (classic-session path). */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan backing a DataFrame. */
  def logicalPlan(df: DataFrame):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Block until every listener has seen every event posted so far (the
    * listener bus delivers asynchronously).
    */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
