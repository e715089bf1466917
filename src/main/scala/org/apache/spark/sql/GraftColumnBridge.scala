package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's package-private Column↔Expression converters
  * (org.apache.spark.sql.classic.ExpressionUtils) so graft's custom Catalyst
  * expressions can be exposed as Columns, and into the Catalyst-row
  * DataFrame constructor so a partition-wise operator can hand its rows back
  * without a Row round-trip. Standard extension-library pattern; no Spark
  * internals are modified. */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** DataFrame over Catalyst rows laid out as `schema`, whose plan reports
    * `stats` (a bare RDD would report `spark.sql.defaultSizeInBytes`). */
  def dataFrame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType,
                stats: Statistics): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(session,
      LogicalRDD(DataTypeUtils.toAttributes(schema), rows)(session, Some(stats)))
  }
}
