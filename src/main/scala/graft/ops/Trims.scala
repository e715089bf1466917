package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/**
 * The attr-driven QA/QC trim suite: every operator nulls out (masks) values
 * of a target column under a predicate, preserving row count — the Spark
 * re-expression of stglib's `qaqc.py` where-masking over xarray
 * (reference: stglib/core/qaqc.py:63-674).
 *
 * Conventions (documented deviations from the reference):
 *  - Missing data is SQL NULL, not NaN (stglib masks with NaN; we normalize
 *    NaN -> NULL at ingest via [[Trims.nanToNull]]). Reference NaN comparison
 *    semantics (NaN cmp x == False => value kept) map exactly onto SQL
 *    three-valued logic: a NULL predicate falls through to "keep".
 *  - Series order/grouping is explicit: xarray guarantees positional order,
 *    Spark does not, so each windowed trim takes order/partition column
 *    names. Burst-shaped data partitions by burst key and orders by sample.
 *
 * All ops are pure `Column`-expression transforms — fully codegen'd, no
 * UDFs, predicates remain pushdown/prune-friendly.
 */
object Trims {

  /** Normalize NaN to NULL so SQL three-valued logic models numpy NaN-cmp.
    * (stglib carries NaN; see note above). */
  def nanToNull(df: DataFrame, vars: Seq[String]): DataFrame =
    vars.foldLeft(df)((d, v) => d.withColumn(v, when(!isnan(col(v)), col(v))))

  private def w(order: Seq[String], part: Seq[String]): WindowSpec = {
    val base = if (part.isEmpty) Window.partitionBy() else Window.partitionBy(part.map(col): _*)
    base.orderBy(order.map(col): _*)
  }

  /** One-step difference vs previous row, 0 at series start
    * (np.ediff1d(to_begin=0), stglib/core/qaqc.py:91). */
  def diffPrev(v: String, order: Seq[String], part: Seq[String] = Nil): Column =
    coalesce(col(v) - lag(col(v), 1).over(w(order, part)), lit(0.0))

  /** One-step difference to next row, 0 at series end
    * (np.ediff1d(to_end=0), stglib/core/qaqc.py:364). */
  def diffNext(v: String, order: Seq[String], part: Seq[String] = Nil): Column =
    coalesce(lead(col(v), 1).over(w(order, part)) - col(v), lit(0.0))

  /** Null where cond is TRUE; NULL/false cond keeps the value (matches
    * xarray .where(~cond): NaN comparisons are False => kept). */
  private def maskWhere(df: DataFrame, v: String, cond: Column): DataFrame =
    df.withColumn(v, when(cond, lit(null)).otherwise(col(v)))

  /** trim_min: null values < min (stglib/core/qaqc.py:63-73). */
  def trimMin(df: DataFrame, v: String, minVal: Double): DataFrame =
    df.withColumn(v, when(col(v) >= lit(minVal), col(v)))

  /** trim_max: null values > max (stglib/core/qaqc.py:76-86). */
  def trimMax(df: DataFrame, v: String, maxVal: Double): DataFrame =
    df.withColumn(v, when(col(v) <= lit(maxVal), col(v)))

  /** trim_min_diff: null where one-step decrease exceeds threshold
    * (diff < minDiff, minDiff typically negative; stglib/core/qaqc.py:89-99). */
  def trimMinDiff(df: DataFrame, v: String, minDiff: Double,
                  order: Seq[String], part: Seq[String] = Nil): DataFrame =
    maskWhere(df, v, diffPrev(v, order, part) < lit(minDiff))

  /** trim_max_diff: null where one-step increase exceeds threshold
    * (stglib/core/qaqc.py:120-130). */
  def trimMaxDiff(df: DataFrame, v: String, maxDiff: Double,
                  order: Seq[String], part: Seq[String] = Nil): DataFrame =
    maskWhere(df, v, diffPrev(v, order, part) > lit(maxDiff))

  /** trim_min_diff_pct / trim_max_diff_pct: percent change vs previous value
    * (100*diff/prev; stglib/core/qaqc.py:102-117,133-148). */
  /** numpy-faithful percent division: x/0 is signed infinity (whose
    * threshold comparison TRIMS, as the reference does when climbing off
    * an exact zero) and 0/0 is NULL — numpy yields NaN there and NaN
    * comparisons are False (keep), but Spark orders NaN above every
    * value, so NULL's keep-through-three-valued-logic is the faithful
    * mapping. (Sign of a -0.0 denominator is not honored — the
    * reference's sensor series never carry negative zero.) */
  private def pctOf(num: Column, den: Column): Column =
    when(den === 0.0 && num === 0.0, lit(null).cast("double"))
      .when(den === 0.0,
        when(num > 0, lit(Double.PositiveInfinity))
          .otherwise(lit(Double.NegativeInfinity)))
      .otherwise(num / den)

  def pctDiffPrev(v: String, order: Seq[String], part: Seq[String] = Nil): Column = {
    val prev = lag(col(v), 1).over(w(order, part))
    pctOf(lit(100.0) * (col(v) - prev), prev)
  }

  def trimMinDiffPct(df: DataFrame, v: String, thr: Double,
                     order: Seq[String], part: Seq[String] = Nil): DataFrame =
    maskWhere(df, v, pctDiffPrev(v, order, part) < lit(thr))

  def trimMaxDiffPct(df: DataFrame, v: String, thr: Double,
                     order: Seq[String], part: Seq[String] = Nil): DataFrame =
    maskWhere(df, v, pctDiffPrev(v, order, part) > lit(thr))

  /** trim_max_blip: null single-step up-then-down spikes — rise > thr AND
    * following fall < -thr (stglib/core/qaqc.py:359-372). */
  def trimMaxBlip(df: DataFrame, v: String, thr: Double,
                  order: Seq[String], part: Seq[String] = Nil): DataFrame =
    maskWhere(df, v,
      (diffPrev(v, order, part) > lit(thr)) && (diffNext(v, order, part) < lit(-thr)))

  /** trim_max_blip_pct: percent-change variant of the spike trim
    * (stglib/core/qaqc.py:374-396). */
  def trimMaxBlipPct(df: DataFrame, v: String, thrPct: Double,
                     order: Seq[String], part: Seq[String] = Nil): DataFrame = {
    val prev = lag(col(v), 1).over(w(order, part))
    val next = lead(col(v), 1).over(w(order, part))
    val risePct = pctOf(lit(100.0) * (col(v) - prev), prev)
    val fallPct = pctOf(lit(100.0) * (next - col(v)), col(v))
    maskWhere(df, v, risePct > lit(thrPct) && fallPct < lit(-thrPct))
  }

  /** trim_maxabs_diff along a time-like (1-D) series: |diff| > thr, strict
    * (stglib/core/qaqc.py:620-627). */
  def trimMaxAbsDiff(df: DataFrame, v: String, thr: Double,
                     order: Seq[String], part: Seq[String] = Nil): DataFrame =
    maskWhere(df, v, abs(diffPrev(v, order, part)) > lit(thr))

  /** trim_maxabs_diff_2d: >= thresholds along two dims of a 2-D var, first
    * element along each dim padded good (stglib/core/qaqc.py:458-493). */
  def trimMaxAbsDiff2d(df: DataFrame, v: String,
                       dim1Order: String, dim1Part: Seq[String], thr1: Double,
                       dim2Order: String, dim2Part: Seq[String], thr2: Double): DataFrame = {
    val d1 = abs(col(v) - lag(col(v), 1).over(w(Seq(dim1Order), dim1Part)))
    val d2 = abs(col(v) - lag(col(v), 1).over(w(Seq(dim2Order), dim2Part)))
    maskWhere(maskWhere(df, v, d1 >= lit(thr1)), v, d2 >= lit(thr2))
  }

  /** Rolling median over a centered k-point window. The reference uses
    * scipy.signal.medfilt, which zero-pads beyond the series edges
    * (stglib/core/qaqc.py:210-231); `zeroPad=true` reproduces that exactly by
    * padding the collected window with zeros to k before taking the median,
    * `zeroPad=false` uses the natural shrinking window. */
  def rollingMedian(v: String, k: Int, order: Seq[String], part: Seq[String],
                    zeroPad: Boolean = true): Column = {
    require(k % 2 == 1, s"median kernel must be odd, got $k")
    val half = k / 2
    val win = w(order, part).rowsBetween(-half, half)
    // `median` isn't usable as a window aggregate over a row frame in Spark;
    // collect the frame and take the exact median of the sorted array instead
    // (frames are tiny: k elements).
    val arr = collect_list(col(v)).over(win)
    if (!zeroPad) arrayMedian(arr)
    else {
      // pad with zeros to k, matching scipy.signal.medfilt edge behavior
      val padded = concat(arr, slice(array_repeat(lit(0.0), k), lit(1), lit(k) - size(arr)))
      val sorted = array_sort(padded)
      // k odd => middle element (1-indexed)
      element_at(sorted, (k + 1) / 2)
    }
  }

  /** Exact median of an array column: middle element (odd n) or mean of the
    * two middle elements (even n) — matches DuckDB/NumPy interpolation. */
  private def arrayMedian(arr: Column): Column = {
    val sorted = array_sort(arr)
    val n = size(sorted)
    val mid = ((n + 1) / 2).cast("int") // 1-indexed lower middle
    when(n % 2 === 1, element_at(sorted, mid))
      .otherwise((element_at(sorted, mid) + element_at(sorted, mid + 1)) / 2.0)
  }

  /** trim_med_diff: null where |x - medfilt_k(x)| > thr; NaN positions in the
    * input stay masked (stglib/core/qaqc.py:151-235). */
  def trimMedDiff(df: DataFrame, v: String, thr: Double, k: Int,
                  order: Seq[String], part: Seq[String] = Nil,
                  zeroPad: Boolean = true): DataFrame =
    maskWhere(df, v, abs(col(v) - rollingMedian(v, k, order, part, zeroPad)) > lit(thr))

  /** trim_med_diff_pct (stglib/core/qaqc.py:238-255). */
  def trimMedDiffPct(df: DataFrame, v: String, thr: Double, k: Int,
                     order: Seq[String], part: Seq[String] = Nil,
                     zeroPad: Boolean = true): DataFrame =
    // pctOf: |x−med|/0 is +inf (trims, as numpy does climbing off an
    // exact zero); 0/0 keeps via the NULL predicate
    maskWhere(df, v,
      pctOf(lit(100.0) * abs(col(v) - rollingMedian(v, k, order, part, zeroPad)), col(v)) > lit(thr))

  /** trim_std_ratio: null where std/value > ratio, companion column `<v>_std`
    * (stglib/core/qaqc.py:636-659). */
  def trimStdRatio(df: DataFrame, v: String, ratio: Double,
                   stdCol: String): DataFrame =
    // pctOf: std/0 is +inf for std > 0 (trims, numpy-faithfully); 0/0
    // and -inf keep through the NULL/false predicate
    maskWhere(df, v, pctOf(col(stdCol), col(v)) > lit(ratio))

  /** trim_max_std: null where companion std > max (stglib/core/qaqc.py:339-356). */
  def trimMaxStd(df: DataFrame, v: String, maxStd: Double, stdCol: String): DataFrame =
    maskWhere(df, v, col(stdCol) > lit(maxStd))

  /** trim_warmup: null the first N+1 samples (keep sample > N, matching the
    * reference's strict >; stglib/core/qaqc.py:662-674). */
  def trimWarmup(df: DataFrame, v: String, warmupSamples: Int, sampleCol: String): DataFrame =
    df.withColumn(v, when(col(sampleCol) > lit(warmupSamples), col(v)))

  /** trim_bad_ens with date-string pairs: null inside inclusive [start,end]
    * ranges (stglib/core/qaqc.py:266-270). */
  def trimBadEnsDates(df: DataFrame, v: String, timeCol: String,
                      ranges: Seq[(String, String)]): DataFrame =
    if (ranges.isEmpty) df
    else {
      val cond = ranges.map { case (a, b) =>
        col(timeCol) >= lit(a).cast("timestamp") && col(timeCol) <= lit(b).cast("timestamp")
      }.reduce(_ || _)
      maskWhere(df, v, cond)
    }

  /** trimBadEnsDates over a raw long-nanos time column (inclusive ranges). */
  def trimBadEnsDatesNs(df: DataFrame, v: String, timeCol: String,
                        ranges: Seq[(Long, Long)]): DataFrame =
    if (ranges.isEmpty) df
    else {
      val cond = ranges.map { case (a, b) =>
        col(timeCol) >= lit(a) && col(timeCol) <= lit(b)
      }.reduce(_ || _)
      maskWhere(df, v, cond)
    }

  /** trim_bad_ens with integer index pairs: half-open [start,end) 0-based
    * positional ranges in series order (np.arange; stglib/core/qaqc.py:272-278). */
  def trimBadEnsIndex(df: DataFrame, v: String, ranges: Seq[(Int, Int)],
                      order: Seq[String], part: Seq[String] = Nil): DataFrame =
    if (ranges.isEmpty) df
    else if (part.isEmpty) {
      // whole-series positions via one ordered sweep — a
      // row_number over an unpartitioned window serializes the table
      val cond = (pos: Column) =>
        ranges.map { case (a, b) => pos >= lit(a) && pos < lit(b) }.reduce(_ || _)
      maskWhere(Index.withGlobalPosition(df, order, "__pos"), v,
        cond(col("__pos"))).drop("__pos")
    } else {
      val pos = row_number().over(w(order, part)) - 1
      val cond = ranges.map { case (a, b) => pos >= lit(a) && pos < lit(b) }.reduce(_ || _)
      maskWhere(df, v, cond)
    }

  /** trim_fliers: null runs of <= num consecutive non-null points surrounded
    * by nulls — gaps-and-islands (stglib/core/qaqc.py:399-455). Island id of a
    * non-null row = count of nulls at-or-before it in series order; island
    * size = count of non-null rows sharing that id. */
  def trimFliers(df: DataFrame, v: String, num: Int,
                 order: Seq[String], part: Seq[String] = Nil): DataFrame = {
    val cum = w(order, part).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val islandId = sum(when(col(v).isNull, 1).otherwise(0)).over(cum)
    val tmp = df.withColumn("__island", islandId)
    val islandW = if (part.isEmpty) Window.partitionBy(col("__island"))
                  else Window.partitionBy((part.map(col) :+ col("__island")): _*)
    val runLen = count(col(v)).over(islandW)
    tmp.withColumn(v, when(runLen > lit(num), col(v))).drop("__island")
  }

  /** trim_mask: null v where any mask variable is null (stglib/core/qaqc.py:496-522). */
  def trimMask(df: DataFrame, v: String, maskVars: Seq[String]): DataFrame =
    maskVars.foldLeft(df)((d, m) => d.withColumn(v, when(col(m).isNotNull, col(v))))

  /** trim_by_any: null v where the named other variable is null
    * (stglib/core/qaqc.py:315-336). */
  def trimByVar(df: DataFrame, v: String, byVar: String): DataFrame =
    df.withColumn(v, when(col(byVar).isNotNull, col(v)))

  /** trim_single_bins: null profile values whose time-slice has exactly one
    * valid bin (stglib/aqd/aqdutils.py:661-672). */
  def trimSingleBins(df: DataFrame, v: String, timeCols: Seq[String]): DataFrame = {
    val nValid = count(col(v)).over(Window.partitionBy(timeCols.map(col): _*))
    df.withColumn(v, when(nValid =!= lit(1), col(v)))
  }

  /** Burst-wide trim_min: null the entire burst when ANY sample falls below
    * min (stglib/rsk/cdf2nc.py:242-262). */
  def trimMinBurstWide(df: DataFrame, v: String, minVal: Double,
                       burstCols: Seq[String]): DataFrame = {
    val anyBad = max(when(col(v) < lit(minVal), 1).otherwise(0))
      .over(Window.partitionBy(burstCols.map(col): _*))
    df.withColumn(v, when(anyBad === lit(0), col(v)))
  }
}
