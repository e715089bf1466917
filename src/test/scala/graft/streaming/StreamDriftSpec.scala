package graft.streaming

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming drift monitoring: the current-window registers accumulate
  * under Structured Streaming (complete mode, ≤ groups×bins state) and
  * the PSI against a batch-built reference must equal the all-batch
  * computation on the same data — the register build IS the plan, so
  * parity is the whole deployment story. */
class StreamDriftSpec extends AnyFunSuite with SharedSpark {

  test("streamed current-side registers give the batch PSI exactly") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(41)
    // reference: N(20); current: group "a" drifts to ~N(30), "b" stays
    def val2(shift: Double) =
      math.round((20.0 + shift + rnd.nextDouble() * 10) * 100) / 100.0
    val ref = (1 to 300).map(i => (if (i % 2 == 0) "a" else "b", val2(0)))
    val cur = (1 to 300).map { i =>
      val g = if (i % 2 == 0) "a" else "b"
      (g, val2(if (g == "a") 10.0 else 0.0))
    }
    val minCents = 1L; val span = 4200L; val bins = 64
    def regs(rows: Seq[(String, Double)]) =
      graft.ops.Sketches.histRegisters(rows.toDF("g", "value"),
        "g", "value", minCents, span, bins)
    val want = graft.ops.Drift.psiFromRegisters(regs(ref), regs(cur), "g", bins)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap

    val in = MemoryStream[(String, Double)]
    val sq = graft.ops.Sketches.histRegisters(
        in.toDF().toDF("g", "value"), "g", "value", minCents, span, bins)
      .writeStream.outputMode("complete").format("memory")
      .queryName("driftregs").start()
    in.addData(cur.take(100): _*); sq.processAllAvailable()
    in.addData(cur.drop(100): _*); sq.processAllAvailable()
    val streamedRegs = spark.sql("select * from driftregs")
    val got = graft.ops.Drift.psiFromRegisters(regs(ref), streamedRegs, "g", bins)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    // the KS companion over the same registers: parity too
    val wantKs = graft.ops.Drift.ksFromRegisters(regs(ref), regs(cur), "g")
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    val gotKs = graft.ops.Drift.ksFromRegisters(regs(ref), streamedRegs, "g")
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    sq.stop()
    assert(gotKs == wantKs, s"ks got $gotKs want $wantKs")
    assert(wantKs("a") > wantKs("b"), "shifted group must have the larger KS gap")
    assert(got == want, s"got $got want $want")
    // the planted shift must dominate (add-one smoothing over 64 bins
    // keeps the stable group's PSI nonzero at this sample size — the
    // signal is the order of magnitude, not the absolute floor)
    assert(want("a") > 1.0 && want("b") < want("a") / 5, s"psi $want")
  }
}
