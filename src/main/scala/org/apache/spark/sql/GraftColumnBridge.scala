package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into Spark's package-private Column↔Expression converters
  * (org.apache.spark.sql.classic.ExpressionUtils) so graft's custom Catalyst
  * expressions can be exposed as Columns, and into the DataFrame constructor
  * so graft's own logical plan nodes (a sweep) can be queried. Standard
  * extension-library pattern; no Spark internals are modified. */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The DataFrame over `plan`, analyzed in `spark`. */
  def ofPlan(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
