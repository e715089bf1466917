package graft.ops

import scala.reflect.ClassTag

import org.apache.spark.{NarrowDependency, Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.types.StructType

/**
 * One ordered pass over a whole series without a single-partition window
 * (SURVEY §7.5 risk 3): the scaffold under the as-of family ([[Align]]),
 * the positional ops ([[Index]]) and the whole-series filter ([[Spectra]]).
 *
 *  1. `df` is range partitioned on `rangeKeys` into `width` partitions and
 *     sorted within them on `sortKeys`, so the partitions read in index
 *     order are the series in order. The ranged frame is [[Spread.shared]]:
 *     both passes below read one shuffle, and [[Spread.release]] frees it.
 *  2. `summarize` reduces each partition to one value, and the driver
 *     collects them, one per partition, in partition order.
 *  3. `pass(p, summaries, rows, read)` streams partition `p` once and
 *     returns its Catalyst rows laid out as `schema`. Whatever a partition
 *     needs from the others (a prefix offset, the previous tail, the next
 *     head) it derives from the summaries. A pass that needs the other
 *     partitions' rows themselves names them in `reads(p, summaries)` and
 *     streams partition `q` of the ranged frame with `read(q)`. The reads
 *     are narrow dependencies, so the scheduler sees them and recomputes
 *     an evicted block.
 *
 * Returns the output frame and the summaries. The output reports `df`'s
 * size estimate, so a later whole-series op reading it sizes its exchange
 * ([[Index.scaledPartitions]]) as it would for `df`.
 */
private[graft] object Sweep {
  def apply[S: ClassTag](df: DataFrame, width: Int, rangeKeys: Seq[Column],
                         sortKeys: Seq[Column], schema: StructType)(
      summarize: Iterator[InternalRow] => S)(
      reads: (Int, Array[S]) => Seq[Int])(
      pass: (Int, Array[S], Iterator[InternalRow], Int => Iterator[InternalRow])
        => Iterator[InternalRow]): (DataFrame, Array[S]) = {
    val rows = Spread.shared(df.repartitionByRange(width, rangeKeys: _*)
        .sortWithinPartitions(sortKeys: _*))
      .queryExecution.toRdd
    val summaries = rows.mapPartitions(it => Iterator(summarize(it))).collect()
    val out = new Passes(rows, p => (p +: reads(p, summaries)).distinct,
      (p, it, read) => pass(p, summaries, it, read))
    (GraftColumnBridge.dataFrame(df.sparkSession, out, schema,
      Statistics(df.queryExecution.optimizedPlan.stats.sizeInBytes)), summaries)
  }

  /** Partition `index` of the pass, with the ranged partitions it reads
    * (its own among them) by index. */
  private class Part(val index: Int, val reads: Map[Int, Partition]) extends Partition

  /** Each partition of `rows` through `pass`, which may also read the
    * partitions `parents(p)` lists, own partition first, so the scheduler
    * places the task with its own block. */
  private class Passes(rows: RDD[InternalRow], parents: Int => Seq[Int],
      pass: (Int, Iterator[InternalRow], Int => Iterator[InternalRow]) => Iterator[InternalRow])
      extends RDD[InternalRow](rows.sparkContext, Seq(new NarrowDependency(rows) {
        def getParents(p: Int): Seq[Int] = parents(p)
      })) {
    protected def getPartitions: Array[Partition] = rows.partitions.map(s =>
      new Part(s.index, parents(s.index).map(q => q -> rows.partitions(q)).toMap))
    def compute(split: Partition, context: TaskContext): Iterator[InternalRow] = {
      val reads = split.asInstanceOf[Part].reads
      pass(split.index, rows.iterator(reads(split.index), context),
        q => rows.iterator(reads(q), context))
    }
  }
}
