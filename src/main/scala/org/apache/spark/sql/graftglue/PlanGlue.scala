package org.apache.spark.sql.graftglue

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Wrap a logical plan as a user-facing DataFrame (`Dataset.ofRows` is
  * `private[sql]` in Spark 4, same story as [[ColumnGlue]]). Needed by
  * graft's custom logical operator ([[graft.plans.OverlapJoinPlan]],
  * which also carries range joins: a point is the interval [pt, pt]) to
  * hand a constructed plan back to the public API, and to read the
  * analyzed plan of an incoming DataFrame. */
object PlanGlue {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The analyzed logical plan behind a DataFrame. */
  def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed
}
