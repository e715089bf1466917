package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, JoinedRow, UnsafeProjection}
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
    * complete bursts.
    *
    * A whole series (no `part`) is one ordered [[Sweep]], not a one-task
    * window: partition p emits the complete bursts whose first sample it
    * holds, finishing its last from later partitions' first rows. `burst`
    * and `sample` are nullable LONGs (an int would wrap past 2^31 rows),
    * declared range partitioned on `burst` and sorted on (burst, sample). */
  def fromContinuous(df: DataFrame, order: Seq[String], part: Seq[String],
                     nsamps: Int, burstCol: String, sampleCol: String): DataFrame = {
    if (part.isEmpty) {
      val schema = df.withColumn(burstCol, lit(null).cast("long"))
        .withColumn(sampleCol, lit(null).cast("long")).schema
      val ids = Seq(burstCol, sampleCol)
      val outExprs = schema.map(f => BoundReference(
        if (ids.contains(f.name)) df.columns.length + ids.indexOf(f.name)
        else df.columns.indexOf(f.name), f.dataType, f.nullable))
      // the prefix counts, and the positions partition p emits: the
      // complete bursts starting in [at(p), at(p + 1))
      def owned(counts: Array[Long], p: Int): (Array[Long], Long, Long) = {
        val at = counts.scanLeft(0L)(_ + _)
        val full = at.last / nsamps * nsamps
        def start(pos: Long) = math.min((pos + nsamps - 1) / nsamps * nsamps, full)
        (at, start(at(p)), start(at(p + 1)))
      }
      Sweep(df, Index.scaledPartitions(df), Sweep.Layout(order, order), schema,
          Some(Sweep.Layout(Seq(burstCol), Seq(burstCol, sampleCol))))(_.size.toLong)(
          (p, counts) => { val (at, lo, hi) = owned(counts, p); Sweep.holding(at, lo, hi) }) {
          (p, counts, _, read) =>
        val (at, lo, hi) = owned(counts, p)
        val project = UnsafeProjection.create(outExprs)
        val row = new GenericInternalRow(2)
        val joined = new JoinedRow
        var pos = lo - 1
        Sweep.rowsAt(at, lo, hi, read).map { r =>
          pos += 1
          row.setLong(0, pos / nsamps); row.setLong(1, pos % nsamps)
          project(joined(r, row))
        }
      }
    } else {
      val w = Window.partitionBy(part.map(col): _*).orderBy(order.map(col): _*)
      df.withColumn("__rn", row_number().over(w) - 1)
        .withColumn(burstCol, expr(s"__rn div $nsamps"))
        .withColumn(sampleCol, col("__rn") % nsamps).drop("__rn")
        .withColumn("__n", count(lit(1)).over(
          Window.partitionBy((part.map(col) :+ col(burstCol)): _*)))
        .filter(col("__n") === nsamps).drop("__n")
    }
  }
}
