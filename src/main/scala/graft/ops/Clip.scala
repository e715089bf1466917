package graft.ops

import graft.core.Meta
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Row-retention filters — the Spark re-expression of stglib's `clip_ds`
 * family (reference: stglib/core/utils.py:73-180). These REMOVE rows
 * (scan-prunable filters), unlike the Trims which null-out values.
 */
object Clip {

  /** clip by inclusive [Deployment_date, Recovery_date]
    * (`.sel(time=slice(...))`, stglib/core/utils.py:155-158). */
  def clipDeployment(df: DataFrame, timeCol: String, dep: String, rec: String): DataFrame =
    df.filter(col(timeCol) >= lit(dep).cast("timestamp") &&
              col(timeCol) <= lit(rec).cast("timestamp"))

  /** clipDeployment over a raw long-nanos time column (parquet TIMESTAMP(NANOS)
    * read via nanosAsLong). */
  def clipDeployment(df: DataFrame, timeCol: String, nsL: Long, nsR: Long): DataFrame =
    df.filter(col(timeCol) >= lit(nsL) && col(timeCol) <= lit(nsR))

  /** clipGoodDates over a raw long-nanos time column; (start, end] semantics. */
  def clipGoodDatesNs(df: DataFrame, timeCol: String, ranges: Seq[(Long, Long)]): DataFrame = {
    val cond = ranges.map { case (a, b) =>
      col(timeCol) > lit(a) && col(timeCol) <= lit(b)
    }.reduce(_ || _)
    df.filter(cond)
  }

  /** clip by multi-range good_dates: OR of (start, end] predicates — note the
    * reference's strict > on start and <= on end
    * (stglib/core/utils.py:122-139). */
  def clipGoodDates(df: DataFrame, timeCol: String, ranges: Seq[(String, String)]): DataFrame = {
    val cond = ranges.map { case (a, b) =>
      col(timeCol) > lit(a).cast("timestamp") && col(timeCol) <= lit(b).cast("timestamp")
    }.reduce(_ || _)
    df.filter(cond)
  }

  /** clip by positional index ranges good_ens: union of half-open [a, b)
    * 0-based positions in series order (np.arange, stglib/core/utils.py:95-105).
    * Whole-series positions come from [[Index.withGlobalPosition]] (one
    * ordered sweep — no single-partition window); per-group positions use a
    * partitioned row_number. */
  def clipGoodEns(df: DataFrame, ranges: Seq[(Int, Int)],
                  order: Seq[String], part: Seq[String] = Nil): DataFrame = {
    val keep = (pos: org.apache.spark.sql.Column) =>
      ranges.map { case (a, b) => pos >= lit(a) && pos < lit(b) }.reduce(_ || _)
    if (part.isEmpty)
      Index.withGlobalPosition(df, order, "__pos")
        .filter(keep(col("__pos"))).drop("__pos")
    else {
      val w = Window.partitionBy(part.map(col): _*).orderBy(order.map(col): _*)
      df.withColumn("__pos", row_number().over(w) - 1)
        .filter(keep(col("__pos"))).drop("__pos")
    }
  }

  /** clip_ds_prf analog: keep profiler bins within a vertical range
    * (good_bindist, stglib/core/utils.py:1812-1854). */
  def clipBindist(df: DataFrame, bindistCol: String, lo: Double, hi: Double): DataFrame =
    df.filter(col(bindistCol) >= lit(lo) && col(bindistCol) <= lit(hi))

  /** Meta-driven dispatch mirroring clip_ds precedence: good_ens, then
    * good_dates, then Deployment/Recovery (stglib/core/utils.py:95-168). */
  def clipDs(df: DataFrame, meta: Meta, timeCol: String = "time",
             order: Seq[String] = Seq("time")): DataFrame = {
    if (meta.has("good_ens")) {
      val idx = meta.dblSeq("good_ens").get.map(_.toInt)
      clipGoodEns(df, idx.grouped(2).collect { case Seq(a, b) => (a, b) }.toSeq, order)
    } else if (meta.has("good_dates")) {
      val d = meta.strSeq("good_dates").get
      clipGoodDates(df, timeCol, d.grouped(2).collect { case Seq(a, b) => (a, b) }.toSeq)
    } else if (meta.has("Deployment_date") && meta.has("Recovery_date")) {
      clipDeployment(df, timeCol, meta.str("Deployment_date").get, meta.str("Recovery_date").get)
    } else df
  }

  /** drop_vars: drop user-listed columns (stglib/core/qaqc.py:677-693);
    * Catalyst column pruning then never reads them from the scan. */
  def dropVars(df: DataFrame, vars: Seq[String]): DataFrame =
    df.drop(vars.filter(df.columns.contains): _*)
}
