package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Scalable global positional index (SURVEY §7.5 risk 3 + the clip_good_ens /
 * trim_bad_ens_index follow-up): the reference's whole-series integer index
 * semantics (np.arange over the series) without a single-partition window.
 *
 * Two-pass design: range-repartition on the order key so partitions are
 * globally sorted → count rows per partition (tiny driver-side array) →
 * mapPartitions adds the partition's cumulative offset to a local index.
 * Shuffle cost is one range exchange; no partition ever holds the series.
 */
object Index {

  /** Range-partition + locally sort on the order key, tag each row with
    * `monotonically_increasing_id` (partition id in the high bits, local
    * 0-based index in the low 33), and persist — the counts pass and the
    * data pass share one shuffle + sort, and identical call sites across
    * queries share the cache entry (Spark's cache is keyed on the
    * canonicalized plan). Everything stays in DataFrame land: no RDD
    * round-trip, no Row re-encoding, downstream plans keep whole-stage
    * codegen. */
  /** Shuffle width for a whole-series pass, scaled to the INPUT SIZE
    * (never below the session setting): the ranged exchange sorts
    * full-width rows, so a fixed session width turns a growing series
    * into a growing per-task sort — measured at the ×100 hobo probe
    * (50 M rows, 32 partitions): the position pass + join-back spill
    * under the 8 GiB local heap and the chain goes super-linear, while
    * the same plan at 256 partitions runs 2.4× faster (SCALING.md,
    * round 20, same session). ~32 MB of estimated input per partition,
    * capped at 4096; plans whose stats are the unknown-size default
    * (≥ 2^50) fall back to the session width rather than exploding the
    * exchange. */
  private[graft] def scaledPartitions(df: DataFrame): Int = {
    val base = df.sparkSession.sessionState.conf.numShufflePartitions
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes <= 0 || bytes >= (BigInt(1L) << 50)) base
    else math.max(base,
      math.min((bytes / (32L << 20)).toLong + 1L, 4096L).toInt)
  }

  private def rangedWithMid(df: DataFrame, orderCols: Seq[String],
                            numPartitions: Int): DataFrame = {
    val n = if (numPartitions > 0) numPartitions else scaledPartitions(df)
    Spread.shared(
      df.repartitionByRange(n, orderCols.map(col): _*)
        .sortWithinPartitions(orderCols.map(col): _*)
        .withColumn("__mid", monotonically_increasing_id()))
  }

  /** Per-partition offsets (tiny driver array → broadcast-joined back).
    * `agg` maps a partition's rows to the per-partition quantity being
    * cumulated (count for positions, sum for running totals). */
  private def offsetsDf(ranged: DataFrame, agg: Column): DataFrame = {
    val spark = ranged.sparkSession
    import spark.implicits._
    val per = perPartition(ranged, agg)
    var acc = 0L
    val offs = per.map { case (p, c) => val o = (p, acc); acc += c; o }
    offs.toSeq.toDF("__p", "__off")
  }

  /** (partition id, aggregated value) rows of the ranged frame, sorted —
    * the tiny driver-side array every two-pass op cumulates over. */
  private def perPartition(ranged: DataFrame, agg: Column): Array[(Long, Long)] =
    ranged.groupBy((shiftright(col("__mid"), 33)).as("__p")).agg(agg.as("__c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)

  /** Append a 0-based global position column in (orderCols) order.
    * orderCols must form a total order (include a unique key).
    * pos = partition offset (bounded driver array, broadcast back) + the
    * row's local index from the mid tag. One ranged shuffle, no partition
    * ever holds the series, fully codegen'd. */
  def withGlobalPosition(df: DataFrame, orderCols: Seq[String],
                         posCol: String, numPartitions: Int = 0): DataFrame =
    withGlobalPositionCounted(df, orderCols, posCol, numPartitions)._1

  /** [[withGlobalPosition]] plus the TOTAL row count, which the counts
    * pass has already collected — callers sizing downstream exchanges by
    * series length (filterColumnWholeSeries) must use this instead of an
    * extra max()/count() action: with two full-width caches near the
    * storage-memory limit an extra full scan can tip LRU eviction into a
    * recompute cascade. */
  def withGlobalPositionCounted(df: DataFrame, orderCols: Seq[String],
                                posCol: String, numPartitions: Int = 0)
      : (DataFrame, Long) = {
    val ranged = rangedWithMid(df, orderCols, numPartitions)
    val offsArr = perPartition(ranged, count(lit(1)))
    var acc = 0L
    val offs = offsArr.map { case (p, c) => val o = (p, acc); acc += c; o }
    val spark = ranged.sparkSession
    import spark.implicits._
    val out = ranged.withColumn("__p", shiftright(col("__mid"), 33))
      .join(broadcast(offs.toSeq.toDF("__p", "__off")), "__p")
      .withColumn(posCol, col("__off") + (col("__mid") bitwiseAND ((1L << 33) - 1)))
      .drop("__p", "__off", "__mid")
    (out, acc)
  }

  /** Append a running total (inclusive prefix sum) of an integral column in
    * (orderCols) order — the scale-safe form of
    * `sum(v).over(Window.orderBy(...))`, whose empty partitioning serializes
    * the table through one task. Partition-local prefix sums come from a
    * window PARTITIONED by the ranged partition id; cross-partition offsets
    * from the broadcast-joined driver array. */
  def withRunningTotal(df: DataFrame, orderCols: Seq[String], valueCol: String,
                       outCol: String, numPartitions: Int = 0): DataFrame = {
    val ranged = rangedWithMid(df, orderCols, numPartitions)
    val offs = offsetsDf(ranged, sum(col(valueCol).cast("long")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__p").orderBy(orderCols.map(col): _*)
    ranged.withColumn("__p", shiftright(col("__mid"), 33))
      .join(broadcast(offs), "__p")
      .withColumn(outCol,
        col("__off") + sum(col(valueCol).cast("long")).over(w))
      .drop("__p", "__off", "__mid")
  }

  /** Append the previous row's value of `valueCol` (BIGINT) in (orderCols)
    * order — the scale-safe form of `lag(v, 1).over(Window.orderBy(...))`,
    * whose empty partitioning serializes the series through one task.
    * Partition-local lag from a window PARTITIONED by the ranged partition
    * id (ordered by the mid tag, so ties in orderCols stay deterministic
    * WITHIN a run — but the mid tag is arbitrary across runs, so when
    * orderCols does not form a total order over the rows, lag results
    * among tied keys would not be reproducible run-to-run). The total-order
    * contract is ENFORCED, not just documented: unless tied rows are
    * provably indistinguishable (valueCol is one of the order keys and the
    * frame carries no payload columns, so any tie assignment yields the
    * same output multiset — the series-diff call sites), the counts pass
    * also counts tied adjacent keys (equal keys are co-partitioned by the
    * range exchange and contiguous after the partition-local sort, so any
    * global duplicate shows up as an adjacent pair) and the call fails
    * loudly when orderCols is not unique — include a tie-breaking key.
    * Each partition's first row takes the previous non-empty partition's
    * last value from a tiny driver-side carry array (null for the global
    * first row). `valueCol` must be non-null (nulls would fall back to
    * the carry instead of propagating, unlike strict lag). */
  def withOrderedLag(df: DataFrame, orderCols: Seq[String], valueCol: String,
                     outCol: String, numPartitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ranged = rangedWithMid(df, orderCols, numPartitions)
    // ties are harmless exactly when tied rows are indistinguishable:
    // valueCol is itself an order key and the frame carries nothing else
    val tiesHarmless = orderCols.contains(valueCol) &&
      df.columns.toSet.subsetOf(orderCols.toSet + valueCol)
    // last in-partition value = value at the partition's max mid tag;
    // when ties could matter, the same pass counts tied adjacent order
    // keys (the window sort re-sorts data the range pass already sorted,
    // so it adds no real work)
    val wDup = org.apache.spark.sql.expressions.Window
      .partitionBy(shiftright(col("__mid"), 33)).orderBy(col("__mid"))
    val tied = orderCols
      .map(c => col(c) <=> lag(col(c), 1).over(wDup))
      .reduce(_ && _)
    val perRows = ranged
      .withColumn("__tied",
        if (tiesHarmless) lit(0L) else when(tied, 1L).otherwise(0L))
      .groupBy(shiftright(col("__mid"), 33).as("__p"))
      .agg(max_by(col(valueCol).cast("long"), col("__mid")).as("__l"),
           sum(col("__tied")).as("__t"))
      .collect()
    val nTied = perRows.map(_.getLong(2)).sum
    if (nTied > 0) throw new IllegalArgumentException(
      s"withOrderedLag: orderCols ${orderCols.mkString("(", ", ", ")")} is not " +
        s"a total order — $nTied row(s) tie with their predecessor; lag among " +
        "tied keys would be nondeterministic across runs. Add a unique " +
        "tie-breaking key to orderCols (or drop payload columns if the " +
        "lagged value is itself the order key).")
    val per = perRows
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .sortBy(_._1)
    var carry: Option[Long] = None
    val offs = per.map { case (p, l) =>
      val o = (p, carry); if (l.isDefined) carry = l; o
    }
    val offsDf = offs.toSeq.toDF("__p", "__carry")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__p").orderBy(col("__mid"))
    ranged.withColumn("__p", shiftright(col("__mid"), 33))
      .join(broadcast(offsDf), "__p")
      .withColumn(outCol,
        coalesce(lag(col(valueCol).cast("long"), 1).over(w), col("__carry")))
      .drop("__p", "__carry", "__mid")
  }
}
