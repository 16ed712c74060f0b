package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Access bridge to the classic `Dataset.ofRows` and
  * `ExpressionUtils.column` factories — the established public pattern
  * for Spark extensions that materialize a DataFrame over a CUSTOM
  * logical node or a Column over a custom expression (both are
  * `private[sql]`, so third-party planners host a one-liner in an
  * `org.apache.spark.sql` subpackage; see e.g. the Pathling/ColumnDataset
  * open-source strategy extensions). Used by
  * `graft.plans.CoOccurWindow.pairs` and the line kernels of
  * `graft.sources.GoldenSink` — nothing else in the engine reaches into
  * Spark internals (`PostureSpec` guards it).
  */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def column(expr: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(expr)
}
