package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, ExpressionUtils, SparkSession => ClassicSession}

/** Bridge into the `private[sql]` DataFrame-from-LogicalPlan constructor
  * — the standard extension-library technique for surfacing a custom
  * LogicalPlan (here graft.plans.AsOfJoinPlan) through the public
  * Dataset API. Kept to the few calls the engine needs.
  */
object GraftPlanBridge {
  def dataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  /** Column <-> Catalyst expression, for expressions with no public
    * builder (the expression of a Column is unresolved). */
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The session's `private[sql]` UUID — a stable string identity for
    * JVM-static memo maps (StreamBridge) that must be keyed per session
    * WITHOUT strongly retaining the SparkSession object graph. */
  def sessionUuid(spark: SparkSession): String =
    spark.asInstanceOf[ClassicSession].sessionUUID
}
