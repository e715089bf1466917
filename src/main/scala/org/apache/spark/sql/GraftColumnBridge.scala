package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, UnknownPartitioning}
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
    * `stats` (a bare RDD would report `spark.sql.defaultSizeInBytes`) and the
    * layout its rows have: range partitioned on `rangeKeys` (ascending, in
    * partition order; none if empty), sorted on `sortKeys`. */
  def dataFrame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType,
                stats: Statistics, rangeKeys: Seq[String],
                sortKeys: Seq[String]): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val output = DataTypeUtils.toAttributes(schema)
    def asc(keys: Seq[String]) = keys.map(k => SortOrder(output.find(_.name == k).get, Ascending))
    val partitioning = if (rangeKeys.isEmpty) UnknownPartitioning(0)
      else RangePartitioning(asc(rangeKeys), rows.getNumPartitions)
    classic.Dataset.ofRows(session,
      LogicalRDD(output, rows, partitioning, asc(sortKeys))(session, Some(stats)))
  }
}
