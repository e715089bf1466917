package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Nondeterministic}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType}

/** Per-partition arrival sequence (partitionIndex·2³³ + row position) —
  * the layout of `monotonically_increasing_id()`, re-expressed as a
  * custom Stateful expression because the built-in class is rejected by
  * streaming's UnsupportedOperationChecker wholesale. Used ONLY to keep
  * byte-identical duplicate left rows apart inside [[StreamAsof]]'s final
  * aggregation; replay determinism is the same as the built-in (stable
  * given the same partitioning and input order on recovery), which is
  * sufficient for a disambiguator that never leaves the operator. */
private[streaming] case class ArrivalId()
    extends LeafExpression with Nondeterministic with CodegenFallback {
  @transient private[this] var count: Long = _
  @transient private[this] var partitionMask: Long = _
  override def stateful: Boolean = true
  override def initializeInternal(partitionIndex: Int): Unit = {
    count = 0L
    partitionMask = partitionIndex.toLong << 33
  }
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def evalInternal(input: InternalRow): Any = {
    val v = count; count += 1L; partitionMask + v
  }
}

/**
 * Streaming as-of join: align each left (measurement) row with the
 * nearest right (aux series) row within a tolerance — the streaming form
 * of `Align.asofNearest` (the reference's
 * `met["atmpres"].reindex_like(method="nearest", tolerance=...)`,
 * stglib/aqd/aqdutils.py:93-118), for live atmospheric-correction /
 * sensor-fusion feeds.
 *
 * Shape: a bucketed candidate join, not the batch operator's sorted sweep —
 * a sweep needs the whole ordered series, while watermark eviction needs
 * join state keyed by bounded time buckets.
 * Both sides bucket by ⌊ts / tolerance⌋; the right side replicates into
 * its bucket and both neighbors (any right row within tolerance of a left
 * row lands in the left row's bucket by construction), the stream-stream
 * equi-join on bucket + the |Δt| ≤ tolerance range predicate bounds join
 * state, and a per-left-row `min_by` over (|Δt|, rightTs, payload) picks
 * the nearest candidate with ties to the earlier right row — exactly the
 * batch operator's ordering. The aggregation keys on the watermarked left
 * event time, so each left row's result emits once the watermark proves
 * no nearer candidate can still arrive. Two stateful operators chained in
 * append mode — supported by Spark's multi-stateful-operator pipelines.
 *
 * ONE plan serves batch and streaming (`withWatermark` is a no-op on
 * static inputs): the parity spec runs literally this function both ways.
 * One documented semantic difference from the batch operator:
 *  - matched rows only (the inner-join form): a left row with no
 *    candidate in tolerance produces nothing, where the batch
 *    operator's left join yields a null payload.
 * Duplicate left rows stay 1:1 with batch output: a per-row arrival id
 * (partition·2³³ + position) PLUS the batch timestamp — both attached
 * inside the operator before the join and dropped from the output — make
 * each left row its own aggregation group, so byte-identical left rows
 * emit one row EACH, like the batch join. The arrival id alone is not
 * enough: per-partition counters restart every microbatch, so identical
 * rows arriving in DIFFERENT batches could collide on (id, row); the
 * batch timestamp (Spark's `current_timestamp()`, evaluated per
 * microbatch and retry-stable) separates them while staying constant —
 * and therefore harmless — in a single batch run.
 */
object StreamAsof {

  /** Inputs: left (leftTs TIMESTAMP + payload), right (rightTs TIMESTAMP +
    * payload). Output: left columns + the nearest right row's columns.
    * Column sets must be disjoint. */
  def asofNearest(left: DataFrame, right: DataFrame,
                  leftTs: String, rightTs: String,
                  toleranceSec: Long, watermark: String = "10 minutes"): DataFrame = {
    require(toleranceSec > 0, "tolerance must be positive")
    val bUs = toleranceSec * 1000000L
    // per-row arrival id: keeps byte-identical duplicate left rows as
    // DISTINCT aggregation groups so each emits its own output row
    // (dropped below — never user-visible)
    val l = left.withWatermark(leftTs, watermark)
      .withColumn("__seq",
        org.apache.spark.sql.GraftColumnBridge.column(ArrivalId()))
      .withColumn("__bts", current_timestamp())
      .withColumn("__lb", expr(s"floor(unix_micros($leftTs) / ${bUs}L)"))
    val r = right.withWatermark(rightTs, watermark)
      .withColumn("__rb", explode(expr(
        s"array(floor(unix_micros($rightTs) / ${bUs}L) - 1, " +
        s"floor(unix_micros($rightTs) / ${bUs}L), " +
        s"floor(unix_micros($rightTs) / ${bUs}L) + 1)")))
    val joined = l.join(r,
        col("__lb") === col("__rb") &&
        col(rightTs) >= col(leftTs) - expr(s"INTERVAL $toleranceSec SECOND") &&
        col(rightTs) <= col(leftTs) + expr(s"INTERVAL $toleranceSec SECOND"))
      .drop("__lb", "__rb")
    // nearest candidate per left row: |Δt| ascending, ties to the earlier
    // right row (the batch Align.asofNearest ordering)
    val ord = struct(
      abs(unix_micros(col(leftTs)) - unix_micros(col(rightTs))) +:
        col(rightTs) +: right.columns.filter(_ != rightTs).map(col): _*)
    val payload = struct(right.columns.map(col): _*)
    joined
      .groupBy(col("__seq") +: col("__bts") +: left.columns.map(col): _*)
      .agg(min_by(payload, ord).as("__best"))
      .select(left.columns.map(col) ++
        right.columns.map(c => col(s"__best.$c").as(c)): _*)
  }
}
