package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The conversions graft needs that Spark keeps package-private: a `Column`
  * over a Catalyst expression and back, and a `DataFrame` over a logical
  * plan. */
object GraftPlanAccess {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** The Catalyst expression a `Column` stands for. Not
    * `classic.ExpressionUtils.expression`, which wraps the column node in an
    * unevaluable `ColumnNodeExpression`. */
  def expression(c: Column): Expression = classic.ColumnConversions.expression(c)

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
