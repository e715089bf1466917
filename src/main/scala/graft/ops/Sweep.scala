package graft.ops

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.types.StructType

/**
 * One ordered pass over a whole series without a single-partition window
 * (SURVEY §7.5 risk 3): the scaffold under the as-of family ([[Align]]) and
 * the positional ops ([[Index]]).
 *
 *  1. `df` is range partitioned on `rangeKeys` into `width` partitions and
 *     sorted within them on `sortKeys`, so the partitions read in index
 *     order are the series in order. The ranged frame is [[Spread.shared]]:
 *     both passes below read one shuffle, and [[Spread.release]] frees it.
 *  2. `summarize` reduces each partition to one value, and the driver
 *     collects them, one per partition, in partition order.
 *  3. `pass(p, summaries, rows)` streams partition `p` once and returns its
 *     Catalyst rows laid out as `schema`. Whatever a partition needs from
 *     the others (a prefix offset, the previous tail, the next head) it
 *     derives from the summaries.
 *
 * Returns the output frame and the summaries. The output reports `df`'s
 * size estimate, so a later whole-series op reading it sizes its exchange
 * ([[Index.scaledPartitions]]) as it would for `df`.
 */
private[graft] object Sweep {
  def apply[S: ClassTag](df: DataFrame, width: Int, rangeKeys: Seq[Column],
                         sortKeys: Seq[Column], schema: StructType)(
      summarize: Iterator[InternalRow] => S)(
      pass: (Int, Array[S], Iterator[InternalRow]) => Iterator[InternalRow])
      : (DataFrame, Array[S]) = {
    val rows = Spread.shared(df.repartitionByRange(width, rangeKeys: _*)
        .sortWithinPartitions(sortKeys: _*))
      .queryExecution.toRdd
    val summaries = rows.mapPartitions(it => Iterator(summarize(it))).collect()
    val out = rows.mapPartitionsWithIndex((p, it) => pass(p, summaries, it))
    (GraftColumnBridge.dataFrame(df.sparkSession, out, schema,
      Statistics(df.queryExecution.optimizedPlan.stats.sizeInBytes)), summaries)
  }
}
