package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * Time-alignment operators (SURVEY §2.4): stglib has no general join — it has
 * `reindex_like(method="nearest", tolerance=...)` patterns
 * (stglib/aqd/aqdutils.py:93-118, stglib/core/utils.py:1946-1956) and
 * calendar regularization (stglib/sig/cdf2nc.py:1553-1594). Re-expressed as
 * one sorted sweep over the tagged union of both sides (see [[sweep]]): one
 * range exchange on the timestamp, then a two-pointer pass per partition.
 * Neither side is broadcast and no candidate set is built, so the cost is
 * one shuffle of left ∪ right whatever the tolerance or the aux density.
 * Left rows with no right row within tolerance survive with nulls (reindex
 * semantics, not inner-join semantics), and every left row — duplicates
 * included — gives exactly one output row.
 */
object Align {

  /** Tolerance that admits every right row: the reference's unbounded
    * `reindex(method="nearest")`. */
  val Unbounded: Long = Long.MaxValue

  private sealed trait Pick
  /** min (|leftTs − rightTs|, rightTs, other right columns) within tolerance */
  private case object Nearest extends Pick
  /** max (rightTs, other right columns) over rightTs ≤ leftTs within tolerance */
  private case object Backward extends Pick
  /** min (rightTs, other right columns) over rightTs ≥ leftTs within tolerance */
  private case object Forward extends Pick

  /**
   * As-of core. Left rows (tag 1) and right rows (tag 0) are unioned, range
   * partitioned on the timestamp `__ts` (width `spark.sql.shuffle.partitions`)
   * and sorted within partitions by (`__ts`, tag, the other right columns), so
   * at each timestamp the right rows come first, in the order of the picks'
   * tie-breaks: a run of right rows sharing one timestamp starts with its min
   * row (Nearest/Forward) and ends with its max row (Backward).
   *
   * One pass per partition keeps the latest right run. A left row takes its
   * backward bracket from that run at once; a left row that needs a forward
   * bracket waits until the next right row arrives, or until a later left row
   * proves no right row within tolerance can still come. Only those waiting
   * rows are buffered, so memory is bounded by the tolerance window.
   * Brackets that cross a partition boundary come from a tiny driver array:
   * each partition's first right row and last right run, carried forward and
   * backward over the empty partitions. Equal timestamps never straddle a
   * range split, so a run is always whole inside one partition.
   *
   * Distances are compared as unsigned differences of ordered timestamps
   * (`t − lo`, `hi − t`), so [[Unbounded]] tolerance never overflows. The
   * exchange, the boundary summary and the pass are one [[Sweep]].
   *
   * Output: the left columns, then for each pick the right columns renamed to
   * the pick's names (all null when the pick found no row).
   */
  private def sweep(left: DataFrame, right: DataFrame, leftTs: String,
                    rightTs: String, tolerance: Long,
                    picks: Seq[(Pick, Seq[String])]): DataFrame = {
    require(tolerance >= 0, s"as-of tolerance must be non-negative, got $tolerance")
    val spark = left.sparkSession
    val nl = left.columns.length
    val width = 2 + nl + right.columns.length
    val tagged = left
      .select(col(leftTs).cast("long").as("__ts") +: lit(1).as("__tag") +:
        (left.columns.map(col) ++
          right.schema.map(f => lit(null).cast(f.dataType).as(f.name))): _*)
      .union(right.filter(col(rightTs).isNotNull)
        .select(col(rightTs).cast("long").as("__ts") +: lit(0).as("__tag") +:
          (left.schema.map(f => lit(null).cast(f.dataType).as(f.name)) ++
            right.columns.map(col)): _*))
    val layout = Sweep.Layout(Seq("__ts"), Seq("__ts", "__tag") ++ right.columns.filter(_ != rightTs))
    val kinds = picks.map(_._1).toArray
    val waits = kinds.exists(_ != Backward)
    val rightTypes = right.schema.map(_.dataType)
    val outExprs =
      left.schema.zipWithIndex.map { case (f, i) =>
        BoundReference(2 + i, f.dataType, nullable = true) } ++
      picks.indices.flatMap(k => rightTypes.zipWithIndex.map { case (t, j) =>
        BoundReference((k + 1) * width + 2 + nl + j, t, nullable = true) })
    val schema = StructType(left.schema.fields ++ picks.flatMap { case (_, names) =>
      right.schema.fields.zip(names).map { case (f, nm) => f.copy(name = nm, nullable = true) } })

    // per partition: (first right row, first and last row of its last run)
    val summarize = (it: Iterator[InternalRow]) => {
      var first, runFirst, runLast: InternalRow = null
      it.foreach { r =>
        if (r.getInt(1) == 0) {
          val c = r.copy()
          if (runFirst == null || c.getLong(0) != runFirst.getLong(0)) {
            runFirst = c
            if (first == null) first = c
          }
          runLast = c
        }
      }
      (first, runFirst, runLast)
    }
    Sweep(tagged, spark.sessionState.conf.numShufflePartitions, layout, schema, None)(summarize)(
        (_, _) => Nil) { (p, ends, it, _) =>
      val near = (d: Long) => java.lang.Long.compareUnsigned(d, tolerance) <= 0
      val project = UnsafeProjection.create(outExprs)
      val noRow = new GenericInternalRow(width)
      // the latest right run at or before the sweep position, and the
      // first right row after this partition
      var (runFirst, runLast) = ends.take(p).reverseIterator
        .collectFirst { case (f, rf, rl) if f != null => (rf, rl) }.getOrElse((null, null))
      val after = ends.drop(p + 1).collectFirst { case (f, _, _) if f != null => f }.orNull
      var runTs = if (runFirst == null) 0L else runFirst.getLong(0)
      val pending = new java.util.ArrayDeque[InternalRow]()
      val ready = new java.util.ArrayDeque[Array[InternalRow]]()

      // resolve a left row against the current run and `next`, the first
      // row of the following run (null when there is none)
      def emit(l: InternalRow, next: InternalRow): Unit = {
        val o = new Array[InternalRow](kinds.length + 1)
        o(0) = l
        if (!l.isNullAt(0)) {
          val t = l.getLong(0)
          val lo = if (runFirst != null && near(t - runTs)) runFirst else null
          val hi = if (runFirst != null && runTs == t) runFirst
                   else if (next != null && near(next.getLong(0) - t)) next else null
          for (k <- kinds.indices) o(k + 1) = kinds(k) match {
            case Backward => if (lo == null) null else runLast
            case Forward => hi
            case Nearest =>
              if (lo == null) hi
              else if (hi == null ||
                java.lang.Long.compareUnsigned(t - runTs, hi.getLong(0) - t) <= 0) lo
              else hi
          }
        }
        ready.add(o)
      }

      def step(r: InternalRow): Unit =
        if (r.getInt(1) == 0) {
          val t = r.getLong(0)
          if (runFirst != null && t == runTs) runLast = r.copy()
          else {
            val c = r.copy()
            while (!pending.isEmpty) emit(pending.poll(), c)
            runFirst = c; runLast = c; runTs = t
          }
        } else if (r.isNullAt(0)) emit(r, null)
        else {
          val t = r.getLong(0)
          while (!pending.isEmpty && !near(t - pending.peek().getLong(0)))
            emit(pending.poll(), null)
          if (waits && !(runFirst != null && runTs == t)) pending.add(r.copy())
          else emit(r, null)
        }

      new Iterator[InternalRow] {
        private var ended = false
        def hasNext: Boolean = {
          while (ready.isEmpty && it.hasNext) step(it.next())
          if (ready.isEmpty && !ended) {
            ended = true
            while (!pending.isEmpty) emit(pending.poll(), after)
          }
          !ready.isEmpty
        }
        def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          val o = ready.poll()
          var in: InternalRow = o(0)
          for (k <- 1 until o.length)
            in = new JoinedRow(in, if (o(k) == null) noRow else o(k))
          project(in)
        }
      }
    }
  }

  /** As-of nearest: for each left row, the single right row minimizing
    * |leftTs − rightTs| within tolerance; ties to the earlier right row,
    * then to the smaller remaining right columns. Time columns must share
    * units (we standardize on long microseconds). */
  def asofNearest(left: DataFrame, right: DataFrame,
                  leftTs: String, rightTs: String, tolerance: Long): DataFrame =
    sweep(left, right, leftTs, rightTs, tolerance, Seq(Nearest -> right.columns.toSeq))

  /** As-of backward: most recent right row at-or-before leftTs within
    * tolerance (boundary/brange pattern, stglib/aqd/aqdutils.py:550-560);
    * ties to the larger remaining right columns. */
  def asofBackward(left: DataFrame, right: DataFrame,
                   leftTs: String, rightTs: String, tolerance: Long): DataFrame =
    sweep(left, right, leftTs, rightTs, tolerance, Seq(Backward -> right.columns.toSeq))

  /** As-of forward: earliest right row at-or-after leftTs within tolerance
    * (the other bracket of linear interpolation); ties to the smaller
    * remaining right columns. */
  def asofForward(left: DataFrame, right: DataFrame,
                  leftTs: String, rightTs: String, tolerance: Long): DataFrame =
    sweep(left, right, leftTs, rightTs, tolerance, Seq(Forward -> right.columns.toSeq))

  /** Linear time interpolation of a right-side series onto left timestamps —
    * the reference's `reindex`/`interp` with method="linear" (xarray interp;
    * e.g. stglib met-series alignment): y = y0 + (y1−y0)·(t−t0)/(t1−t0)
    * from the bracketing right rows within tolerance; exact hits return y0;
    * a missing bracket yields null (no extrapolation, like xarray's NaN
    * outside). Both brackets come from one sweep: (t0, y0) is the
    * [[asofBackward]] pick and (t1, y1) the [[asofForward]] pick. */
  def interpLinear(left: DataFrame, right: DataFrame, leftTs: String,
                   rightTs: String, valCol: String, tolerance: Long,
                   outCol: String): DataFrame = {
    val r = right.select(col(rightTs).as("__rt"), col(valCol).as("__rv"))
    sweep(left, r, leftTs, "__rt", tolerance,
        Seq(Backward -> Seq("__t0", "__y0"), Forward -> Seq("__t1", "__y1")))
      .withColumn(outCol,
        when(col("__t1") === col("__t0"), col("__y0"))
          .otherwise(col("__y0") + (col("__y1") - col("__y0")) *
            ((col(leftTs) - col("__t0")).cast("double") /
             (col("__t1") - col("__t0")).cast("double"))))
      .drop("__t0", "__y0", "__t1", "__y1")
  }

  /** Perfect calendar grid [startUs, endUs) with the given step — the
    * date_range(t0, Δ=1/sr) reindex target. Generated as a plain
    * `spark.range(n)` with an affine tick map: range partitions stream
    * their ids lazily inside whole-stage codegen (no per-task arrays) and
    * carry CORRECT size statistics. The previous sequence+explode form
    * failed twice at x100 deployment scale (found by the chain-scale
    * harness): the single `sequence()` materialized the whole grid as one
    * ~400 MB in-task array, and after chunking, `explode`'s unchanged
    * child statistics made the planner STATISTICS-BROADCAST the 20 M-row
    * grid side of the reindex join. `range` has neither problem. */
  def calendarGrid(spark: SparkSession, startUs: Long, endUs: Long,
                   stepUs: Long, colName: String): DataFrame = {
    require(stepUs > 0, s"calendarGrid step must be positive, got $stepUs")
    val n = if (endUs <= startUs) 0L else (endUs - 1 - startUs) / stepUs + 1
    spark.range(n).select((lit(startUs) + col("id") * stepUs).as(colName))
  }
}
