package graft.streaming

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

/** Fixed-grid histogram-quantile registers under Structured Streaming:
  * the same projection + count aggregation runs in complete mode with
  * ≤ groups×bins rows of state, streamed registers equal a batch build
  * over the same rows, and the quantile estimates (exact integer
  * interpolation) are bit-identical. Also covers edge-bin clamping for
  * values outside the historical grid. */
class StreamHistSpec extends AnyFunSuite with SharedSpark {

  test("streamed registers equal batch; estimates bit-identical; clamping") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // values 0.00 .. 99.99 over two groups, plus out-of-grid stragglers
    // (negative and >max) that must clamp to the edge bins
    val rows = (0 until 3000).map(i => ("g" + (i % 2), (i % 997) / 10.0)) ++
      Seq(("g0", -5.0), ("g1", 250.0))
    val minCents = 0L; val span = 9971L

    val input = MemoryStream[(String, Double)]
    val regs = graft.ops.Sketches.histRegisters(
      input.toDF().toDF("grp", "v"), "grp", "v", minCents, span)
    val q = regs.writeStream.outputMode("complete")
      .format("memory").queryName("histregs").start()
    input.addData(rows.take(1700): _*)
    q.processAllAvailable()
    input.addData(rows.drop(1700): _*)
    q.processAllAvailable()
    val streamed = spark.sql("select * from histregs")
    val streamedSet = streamed.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    q.stop()

    val batch = graft.ops.Sketches.histRegisters(
      rows.toDF("grp", "v"), "grp", "v", minCents, span)
    val batchSet = batch.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamedSet == batchSet)
    // clamped rows landed in the edge bins, not outside the grid
    assert(batchSet.forall { case (_, b, _) => b >= 0 && b < 64 })

    def est(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Sketches.histEstimateFixed(df, "grp", minCents, span)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2),
          r.getDouble(3), r.getDouble(4))).toSet
    assert(est(streamed) == est(batch))
    // estimates are sane: q50 < q90, inside the grid
    est(batch).foreach { case (_, n, _, q50, q90) =>
      assert(n == 1501L)
      assert(q50 < q90 && q50 >= 0.0 && q90 <= 100.0)
    }
  }
}
