package graft.ops

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, InterpretedOrdering, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * Scalable global positional index (SURVEY §7.5 risk 3 + the clip_good_ens /
 * trim_bad_ens_index follow-up): the reference's whole-series integer index
 * semantics (np.arange over the series) without a single-partition window.
 *
 * Each op is one [[Sweep]] in order-key order: one range exchange, one
 * summary per partition (its row count, value sum or last value), and one
 * streaming pass in which each partition starts from the carry the
 * partitions before it add up to. No partition ever holds the series, and
 * each op equals its unpartitioned window exactly.
 */
object Index {

  /** Shuffle width for a whole-series pass, scaled to the INPUT SIZE
    * (never below the session setting): the ranged exchange sorts
    * full-width rows, so a fixed session width turns a growing series
    * into a growing per-task sort — measured at the ×100 hobo probe
    * (50 M rows, 32 partitions): the whole-series passes spilled under
    * the 8 GiB local heap and the chain went super-linear, while the same
    * plan at 256 partitions ran 2.4× faster (SCALING.md, round 20, same
    * session). ~32 MB of estimated input per partition, capped at 4096;
    * plans whose stats are the unknown-size default (≥ 2^50) fall back to
    * the session width rather than exploding the exchange. The width is
    * fixed when the sweep is built, in the `repartitionByRange` its node's
    * child carries (REPARTITION_BY_NUM, which AQE never coalesces); a
    * sweep's output reports its input's estimate, so sweeps chained on one
    * series size alike. */
  private[graft] def scaledPartitions(df: DataFrame): Int = {
    val base = df.sparkSession.sessionState.conf.numShufflePartitions
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes <= 0 || bytes >= (BigInt(1L) << 50)) base
    else math.max(base,
      math.min((bytes / (32L << 20)).toLong + 1L, 4096L).toInt)
  }

  /** One [[Sweep]] of `df` in (orderCols) order that sets the columns `outs`
    * (name, seed), typed as their seeds, row by row. Each is first set to its
    * seed (in place when `df` has it, else appended), so `summarize(os)` and
    * `values(p, summaries, os, read)` read the seeds at ordinals `os`; `values`
    * gives each row its row of new values. `reads` and `read` are [[Sweep]]'s.
    * The output declares its ranged layout on orderCols (unless it rewrote one). */
  private[graft] def sweepColumns[S: ClassTag](df: DataFrame, orderCols: Seq[String],
      outs: Seq[(String, Column)], nullable: Boolean)(
      summarize: Seq[Int] => Iterator[InternalRow] => S)(
      reads: (Int, Array[S]) => Seq[Int])(
      values: (Int, Array[S], Seq[Int], Int => Iterator[InternalRow]) => InternalRow => InternalRow)
      : DataFrame = {
    val in = outs.foldLeft(df) { case (d, (c, seed)) => d.withColumn(c, seed) }
    val os = outs.map(o => in.columns.indexOf(o._1))
    val schema = StructType(os.foldLeft(in.schema.fields)((fs, o) =>
      fs.updated(o, fs(o).copy(nullable = nullable))))
    val outExprs = schema.indices.map(i => BoundReference(
      if (os.contains(i)) schema.length + os.indexOf(i) else i, schema(i).dataType, schema(i).nullable))
    val layout = Sweep.Layout(orderCols, orderCols)
    Sweep(in, scaledPartitions(df), layout, schema,
        if (outs.exists(o => orderCols.contains(o._1))) None else Some(layout))(
        summarize(os))(reads) { (p, summaries, rows, read) =>
      val next = values(p, summaries, os, read)
      val project = UnsafeProjection.create(outExprs)
      val joined = new JoinedRow
      rows.map(r => project(joined(r, next(r))))
    }
  }

  private def valueAt(r: InternalRow, o: Int): java.lang.Long =
    if (r.isNullAt(o)) null else r.getLong(o)

  /** Append a 0-based global position column in (orderCols) order.
    * orderCols must form a total order (include a unique key). */
  def withGlobalPosition(df: DataFrame, orderCols: Seq[String],
                         posCol: String): DataFrame =
    sweepColumns(df, orderCols, Seq(posCol -> lit(0L)), nullable = false)(
        _ => (it: Iterator[InternalRow]) => it.size.toLong)((_, _) => Nil) { (p, counts, _, _) =>
      var pos = counts.take(p).sum - 1
      _ => { pos += 1; InternalRow(pos) }
    }

  /** Append a running total (inclusive prefix sum) of an integral column in
    * (orderCols) order: exactly SQL's `sum(v) OVER (ORDER BY orderCols ROWS
    * BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)`, null until the first
    * non-null value, with later nulls adding nothing — without the
    * unpartitioned window, which serializes the table through one task.
    * Like a position, it is defined only on a total order: orderCols must
    * include a unique key. */
  def withRunningTotal(df: DataFrame, orderCols: Seq[String], valueCol: String,
                       outCol: String): DataFrame = {
    // null-skipping sum: a partition's summary is null when it has no value
    def plus(a: java.lang.Long, b: java.lang.Long): java.lang.Long =
      if (a == null) b else if (b == null) a else a + b
    sweepColumns(df, orderCols, Seq(outCol -> col(valueCol).cast("long")), nullable = true)(
        { case Seq(o) => _.foldLeft(null: java.lang.Long)((a, r) => plus(a, valueAt(r, o))) })(
        (_, _) => Nil) { case (p, sums, Seq(o), _) =>
      var acc = sums.take(p).foldLeft(null: java.lang.Long)(plus)
      r => { acc = plus(acc, valueAt(r, o)); InternalRow(acc) }
    }
  }

  /** Append the previous row's value of `valueCol` (BIGINT) in (orderCols)
    * order: exactly SQL's `lag(v, 1) OVER (ORDER BY orderCols)`, nulls
    * included (a null previous value gives null; the global first row gets
    * null) — without the unpartitioned window, which serializes the series
    * through one task. Each partition's first row takes the last value of
    * the nearest non-empty partition before it.
    *
    * orderCols must form a total order, and the contract is ENFORCED:
    * unless tied rows are provably indistinguishable (valueCol is one of
    * the order keys and the frame carries no payload columns, so any tie
    * assignment yields the same output multiset — the series-diff call
    * sites), the summary also counts tied adjacent keys (equal keys are
    * co-partitioned by the range exchange and adjacent after the sort, so
    * any global duplicate shows up as an adjacent pair) and the first
    * action fails loudly on the driver when orderCols is not unique —
    * include a tie-breaking key. */
  def withOrderedLag(df: DataFrame, orderCols: Seq[String], valueCol: String,
                     outCol: String): DataFrame = {
    val tiesHarmless = orderCols.contains(valueCol) &&
      df.columns.toSet.subsetOf(orderCols.toSet + valueCol)
    val keyRefs = orderCols.map { c =>
      val i = df.columns.indexOf(c)
      BoundReference(i, df.schema(i).dataType, nullable = true)
    }
    val keyOrder = keyRefs.indices.map(i =>
      SortOrder(keyRefs(i).copy(ordinal = i), Ascending))
    // per partition: (rows, last value, rows tied with their predecessor)
    sweepColumns(df, orderCols, Seq(outCol -> col(valueCol).cast("long")),
        nullable = true)({ case Seq(o) => (it: Iterator[InternalRow]) =>
      var n, tied = 0L
      var last: java.lang.Long = null
      var prevKey: InternalRow = null
      val key = UnsafeProjection.create(keyRefs)
      val ord = new InterpretedOrdering(keyOrder)
      it.foreach { r =>
        if (!tiesHarmless) {
          val k = key(r)
          if (prevKey != null && ord.compare(prevKey, k) == 0) tied += 1
          prevKey = k.copy()
        }
        last = valueAt(r, o)
        n += 1
      }
      (n, last, tied)
    })({ (p, ends) =>
      // the pass reads no other partition; partition 0's call checks the ties
      val nTied = if (p == 0) ends.map(_._3).sum else 0L
      if (nTied > 0) throw new IllegalArgumentException(
        s"withOrderedLag: orderCols ${orderCols.mkString("(", ", ", ")")} is not " +
          s"a total order — $nTied row(s) tie with their predecessor; lag among " +
          "tied keys would be nondeterministic across runs. Add a unique " +
          "tie-breaking key to orderCols (or drop payload columns if the " +
          "lagged value is itself the order key).")
      Nil
    }) { case (p, ends, Seq(o), _) =>
      var prev = ends.take(p).reverseIterator
        .collectFirst { case (n, l, _) if n > 0 => l }.orNull
      r => { val lagged = prev; prev = valueAt(r, o); InternalRow(lagged) }
    }
  }
}
