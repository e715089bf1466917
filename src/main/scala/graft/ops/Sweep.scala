package graft.ops

import scala.reflect.ClassTag

import org.apache.spark.{NarrowDependency, Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning, RangePartitioning, UnknownPartitioning}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
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
 * Building a sweep runs nothing: [[apply]] returns a frame over a logical
 * [[Node]], which [[Planning]] plans into an [[Exec]]. At each action:
 *
 *  1. The exec's child is `df` range partitioned on `in.range` into `width`
 *     partitions and sorted within them on `in.sort`: a `repartitionByRange`
 *     placed in the node's child when it is built, whose REPARTITION_BY_NUM
 *     exchange AQE never coalesces, unless `df` is so laid out already, as
 *     wide or wider ([[laidOut]], e.g. a sweep's output). The exec requires
 *     that layout of its child, so the planner checks it: the partitions
 *     read in index order are the series in order.
 *  2. The exec persists its child's rows in the columnar cache format
 *     ([[Spread.kept]]: both passes read them once; [[Spread.release]] frees
 *     them; a row read back is valid until the iterator's next row, so a
 *     summary or pass copies any row it keeps), `summarize` reduces each
 *     partition to one value, and the driver collects them, one per
 *     partition, in partition order. This summary job runs when the action
 *     first asks for the pass's partitions.
 *  3. `pass(p, summaries, rows, read)` streams partition `p` once and
 *     returns its Catalyst rows laid out as `schema`. Whatever a partition
 *     needs from the others (a prefix offset, the previous tail, the next
 *     head) it derives from the summaries. A pass that needs the other
 *     partitions' rows themselves names them in `reads(p, summaries)` and
 *     streams partition `q` of the ranged rows with `read(q)`. The reads
 *     are narrow dependencies, so the scheduler sees them and recomputes
 *     an evicted block. `reads` runs on the driver, once per partition, as
 *     soon as the summaries are in, so it may also reject them.
 *
 * The output's columns are new attributes, whatever their names, so no
 * constraint on `df`'s columns carries over to them. It declares the layout
 * `out` (if any), so an op needing it (a group-by, the kernel fan-out, a
 * sweep) needs no exchange; a pass must keep what it declares. Its size
 * estimate is `df`'s, scaled to its row width as for any unary node, so a
 * later whole-series op sizes its exchange ([[Index.scaledPartitions]])
 * about as it would for `df`.
 */
private[graft] object Sweep {
  /** Range partitioned on `range` (ascending, in partition order), sorted on `sort`. */
  final case class Layout(range: Seq[String], sort: Seq[String])

  def apply[S: ClassTag](df: DataFrame, width: Int, in: Layout, schema: StructType,
                         out: Option[Layout])(
      summarize: Iterator[InternalRow] => S)(
      reads: (Int, Array[S]) => Seq[Int])(
      pass: (Int, Array[S], Iterator[InternalRow], Int => Iterator[InternalRow])
        => Iterator[InternalRow]): DataFrame = {
    val spark = df.sparkSession
    Planning.setup(spark)
    val ranged =
      if (laidOut(df, in, width)) df
      else df.repartitionByRange(width, in.range.map(col): _*)
        .sortWithinPartitions(in.sort.map(col): _*)
    val child = ranged.queryExecution.analyzed
    GraftColumnBridge.ofPlan(spark, Node(DataTypeUtils.toAttributes(schema), in, out,
      rows => new Passes(Spread.kept(spark, rows, child.output), summarize, reads, pass),
      child))
  }

  /** Whether `df`'s plan ranges its rows on `layout.range` into `width` or
    * more partitions and sorts them on `layout.sort`, through no exchange
    * AQE could coalesce: only then may a caller skip its own. A sweep's
    * exec declares its own layout, so the plan below it is not searched. */
  private[graft] def laidOut(df: Dataset[_], layout: Layout, width: Int): Boolean = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def coalescable(p: SparkPlan): Boolean = p match {
      case _: Exec => false
      case e: ShuffleExchangeLike if e.shuffleOrigin != REPARTITION_BY_NUM => true
      case _: QueryStageExec | _: ReusedExchangeExec => true
      case _ => p.children.exists(coalescable)
    }
    val asc = ascending(plan.output) _
    !coalescable(plan) && plan.outputPartitioning.numPartitions >= width &&
      plan.outputPartitioning.satisfies(OrderedDistribution(asc(layout.range))) &&
      SortOrder.orderingSatisfies(plan.outputOrdering, asc(layout.sort))
  }

  private def ascending(attrs: Seq[Attribute])(keys: Seq[String]): Seq[SortOrder] =
    keys.map(k => SortOrder(attrs.find(_.name == k).get, Ascending))

  /** The logical sweep: `run` turns its child's rows, laid out as `in`,
    * into rows of `output`, laid out as `out` declares. The passes read the
    * child's columns by ordinal, so all of them are referenced and none is
    * pruned below the node. */
  private final case class Node(output: Seq[Attribute], in: Layout, out: Option[Layout],
      run: RDD[InternalRow] => RDD[InternalRow], child: LogicalPlan) extends UnaryNode {
    override def nodeName: String = "Sweep"
    override def references: AttributeSet = child.outputSet
    override def producedAttributes: AttributeSet = outputSet
    protected def withNewChildInternal(c: LogicalPlan): Node = copy(child = c)
  }

  /** A [[Node]] planned: it requires its child laid out as `in` and reports
    * the layout `out` declares, as wide as its child. That width is an upper
    * bound, as it is for Spark's own range exchange: ranging k < width
    * distinct keys fills at most k partitions, so at most k groups reach a
    * per-group fan-out ([[Spectra.perGroup]]) that takes this layout as it
    * is, one task each, and no kernel parallelism is lost. `run` runs on
    * the driver, so a task that captures the plan goes without it. */
  private final case class Exec(output: Seq[Attribute], in: Layout, out: Option[Layout],
      @transient run: RDD[InternalRow] => RDD[InternalRow], child: SparkPlan) extends UnaryExecNode {
    override def nodeName: String = "Sweep"
    override def requiredChildDistribution: Seq[Distribution] =
      OrderedDistribution(ascending(child.output)(in.range)) :: Nil
    override def requiredChildOrdering: Seq[Seq[SortOrder]] = ascending(child.output)(in.sort) :: Nil
    override def outputPartitioning: Partitioning = out.fold[Partitioning](
      UnknownPartitioning(child.outputPartitioning.numPartitions))(
      o => RangePartitioning(ascending(output)(o.range), child.outputPartitioning.numPartitions))
    override def outputOrdering: Seq[SortOrder] = out.fold(Seq.empty[SortOrder])(o => ascending(output)(o.sort))
    protected def doExecute(): RDD[InternalRow] = run(child.execute())
    protected def withNewChildInternal(c: SparkPlan): Exec = copy(child = c)
  }

  /** Plans a [[Node]] into an [[Exec]]. [[setup]] installs it on a sweep's
    * own session when the node is built, the one place it is installed, so
    * any session plans a sweep: a new one, or one not made by
    * [[graft.Sessions]], too. */
  private object Planning extends SparkStrategy {
    def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case Node(output, in, out, run, child) => Exec(output, in, out, run, planLater(child)) :: Nil
      case _ => Nil
    }

    def setup(spark: SparkSession): Unit = {
      val methods = spark.experimental
      methods.synchronized {
        if (!methods.extraStrategies.contains(Planning)) methods.extraStrategies :+= Planning
      }
    }
  }

  /** The partitions holding positions [lo, hi); q holds [at(q), at(q + 1)). */
  def holding(at: Array[Long], lo: Long, hi: Long): Seq[Int] =
    at.indices.init.filter(q => math.max(at(q), lo) < math.min(at(q + 1), hi))

  /** The rows at positions [lo, hi), in order. A task cannot seek into a
    * persisted block, so reaching a tail decodes the block up to it. */
  def rowsAt(at: Array[Long], lo: Long, hi: Long,
             read: Int => Iterator[InternalRow]): Iterator[InternalRow] =
    holding(at, lo, hi).iterator.flatMap(q => read(q)
      .slice((math.max(lo, at(q)) - at(q)).toInt, (math.min(hi, at(q + 1)) - at(q)).toInt))

  /** Partition `index` of the pass, with the ranged partitions it reads,
    * its own first, so the scheduler places the task with its own block. */
  private class Part(val index: Int, val reads: Seq[Partition]) extends Partition

  /** Each partition of `rows` through `pass`, which may also read the
    * partitions `reads` lists. The partitions, and with them the summaries,
    * are made on the driver when an action first asks for them. */
  private class Passes[S: ClassTag](rows: RDD[InternalRow], summarize: Iterator[InternalRow] => S,
      reads: (Int, Array[S]) => Seq[Int],
      pass: (Int, Array[S], Iterator[InternalRow], Int => Iterator[InternalRow]) => Iterator[InternalRow])
      extends RDD[InternalRow](rows.sparkContext, Nil) {
    private var summaries: Array[S] = _
    override protected def getDependencies = Seq(new NarrowDependency(rows) {
      def getParents(p: Int): Seq[Int] = partitions(p).asInstanceOf[Part].reads.map(_.index)
    })
    protected def getPartitions: Array[Partition] = {
      summaries = rows.mapPartitions(it => Iterator(summarize(it))).collect()
      rows.partitions.map(s =>
        new Part(s.index, (s.index +: reads(s.index, summaries)).distinct.map(rows.partitions)))
    }
    def compute(split: Partition, context: TaskContext): Iterator[InternalRow] = {
      val byIndex = split.asInstanceOf[Part].reads.map(q => q.index -> q).toMap
      pass(split.index, summaries, rows.iterator(byIndex(split.index), context),
        q => rows.iterator(byIndex(q), context))
    }
  }
}
