package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Long ↔ nested burst-shape conversion (SURVEY §1.5): the engine's two
 * isomorphic encodings of (time × sample) data. Long rows serve relational
 * ops (QA/QC trims); nested ArrayType columns feed the spectral kernels.
 * The reference round-trips the same shapes (stglib/core/waves.py:2037-2091
 * unstack ↔ stglib/aqd/aqdutils.py:1717-1741 mean-over-sample).
 */
object Burst {

  /** Long (burst, sample, v…) → nested (burst, v_arr…): arrays ordered by
    * sample via sort_array(collect_list(struct)) — explicit order, never
    * relying on row arrival order (SURVEY §7.5 risk 7). */
  def toNested(df: DataFrame, burstCol: String, sampleCol: String,
               valueCols: Seq[String]): DataFrame = {
    val aggs = valueCols.map { v =>
      expr(s"transform(array_sort(collect_list(struct($sampleCol, $v))), s -> s.$v)")
        .as(s"${v}_arr")
    }
    df.groupBy(col(burstCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Nested → long via posexplode; sample indices regenerate 0..n-1. */
  def toLong(df: DataFrame, burstCol: String, arrCol: String,
             valueCol: String, sampleCol: String): DataFrame =
    df.select(col(burstCol), posexplode(col(arrCol)).as(Seq(sampleCol, valueCol)))

  /** Continuous series → burst ids + sample counters from explicit order
    * (make_wave_bursts_mi, stglib/core/waves.py:2037-2091), keeping only
    * complete bursts. */
  def fromContinuous(df: DataFrame, order: Seq[String], part: Seq[String],
                     nsamps: Int, burstCol: String, sampleCol: String): DataFrame = {
    def ids(indexed: DataFrame) = indexed
      .withColumn(burstCol, expr(s"__rn div $nsamps"))
      .withColumn(sampleCol, col("__rn") % nsamps)
      .drop("__rn")
    if (part.isEmpty) {
      // whole series: one ordered sweep, not an unpartitioned window (which
      // would serialize the series through one task). Positions are
      // contiguous, so only the last burst can be short: keep the rows
      // before it, counted by the sweep itself. The position stays LONG —
      // an int cast would wrap past 2^31 rows, exactly the regime the
      // index exists for (burst/sample types differ from the partitioned
      // path's int row_number; no oracle depends on this branch)
      val (pos, total) = Index.withGlobalPositionCounted(df, order, "__rn")
      ids(pos.filter(col("__rn") < total - total % nsamps))
    } else {
      val w = Window.partitionBy(part.map(col): _*).orderBy(order.map(col): _*)
      val counts = Window.partitionBy((part.map(col) :+ col(burstCol)): _*)
      ids(df.withColumn("__rn", row_number().over(w) - 1))
        .withColumn("__n", count(lit(1)).over(counts))
        .filter(col("__n") === nsamps).drop("__n")
    }
  }
}
