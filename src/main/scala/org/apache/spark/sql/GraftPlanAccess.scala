package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The two conversions the plug engine needs that Spark keeps
  * package-private: a `Column` over a Catalyst expression, and a
  * `DataFrame` over a logical plan. */
object GraftPlanAccess {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
