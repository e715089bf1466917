package graft.ops

import scala.reflect.ClassTag

import org.apache.spark.{NarrowDependency, Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.OrderedDistribution
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/**
 * One ordered pass over a whole series without a single-partition window
 * (SURVEY §7.5 risk 3): the scaffold under the as-of family ([[Align]]),
 * the positional ops ([[Index]]), the whole-series in-place filter of a
 * step's columns ([[Spectra.filterColumns]]) and the burst cut ([[Burst]]).
 *
 *  1. `df` is range partitioned on `in.range` into `width` partitions and
 *     sorted within them on `in.sort`, unless so laid out already, as wide
 *     or wider ([[laidOut]], e.g. a sweep's output): the partitions read in
 *     index order are the series in order. The ranged frame is
 *     [[Spread.shared]]: both passes read it once; [[Spread.release]] frees it.
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
 * ([[Index.scaledPartitions]]) as it would for `df`, and declares the layout
 * `out` (if any), so an op needing it (a group-by, the kernel fan-out, a
 * sweep) needs no exchange; a pass must keep what it declares.
 */
private[graft] object Sweep {
  /** Range partitioned on `range` (ascending, in partition order), sorted on `sort`. */
  final case class Layout(range: Seq[String], sort: Seq[String])

  def apply[S: ClassTag](df: DataFrame, width: Int, in: Layout, schema: StructType,
                         out: Option[Layout])(
      summarize: Iterator[InternalRow] => S)(
      reads: (Int, Array[S]) => Seq[Int])(
      pass: (Int, Array[S], Iterator[InternalRow], Int => Iterator[InternalRow])
        => Iterator[InternalRow]): (DataFrame, Array[S]) = {
    val ranged =
      if (laidOut(df, in, width)) df.select("*") // a plan built after the persist below
      else df.repartitionByRange(width, in.range.map(col): _*)
        .sortWithinPartitions(in.sort.map(col): _*)
    val rows = Spread.shared(ranged).queryExecution.toRdd
    val summaries = rows.mapPartitions(it => Iterator(summarize(it))).collect()
    val passes = new Passes(rows, p => (p +: reads(p, summaries)).distinct,
      (p, it, read) => pass(p, summaries, it, read))
    (GraftColumnBridge.dataFrame(df.sparkSession, passes, schema,
      Statistics(df.queryExecution.optimizedPlan.stats.sizeInBytes),
      out.fold(Seq.empty[String])(_.range), out.fold(Seq.empty[String])(_.sort)), summaries)
  }

  /** Whether `df`'s plan ranges its rows on `layout.range` into `width` or
    * more partitions and sorts them on `layout.sort`, through no exchange
    * AQE could coalesce: only then may a caller skip its own. */
  private[graft] def laidOut(df: Dataset[_], layout: Layout, width: Int): Boolean = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val byName = plan.output.map(a => a.name -> a).toMap
    def asc(keys: Seq[String]) = keys.map(c => SortOrder(byName(c), Ascending))
    !plan.exists {
      case e: ShuffleExchangeLike => e.shuffleOrigin != REPARTITION_BY_NUM
      case p => p.isInstanceOf[QueryStageExec] || p.isInstanceOf[ReusedExchangeExec]
    } && plan.outputPartitioning.numPartitions >= width &&
      plan.outputPartitioning.satisfies(OrderedDistribution(asc(layout.range))) &&
      SortOrder.orderingSatisfies(plan.outputOrdering, asc(layout.sort))
  }

  /** The partitions holding positions [lo, hi); q holds [at(q), at(q + 1)). */
  def holding(at: Array[Long], lo: Long, hi: Long): Seq[Int] =
    at.indices.init.filter(q => math.max(at(q), lo) < math.min(at(q + 1), hi))

  /** The rows at positions [lo, hi), in order. A task cannot seek into a
    * cached block, so reaching a tail decodes the block up to it. */
  def rowsAt(at: Array[Long], lo: Long, hi: Long,
             read: Int => Iterator[InternalRow]): Iterator[InternalRow] =
    holding(at, lo, hi).iterator.flatMap(q => read(q)
      .slice((math.max(lo, at(q)) - at(q)).toInt, (math.min(hi, at(q + 1)) - at(q)).toInt))

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
