package graft.streaming

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

/** Live wave statistics parity: the streamed burst-assembly → Welch
  * chain, fed across trigger boundaries, must produce bit-identical
  * Hs/Tm/Tp rows to (a) the same plan run batch and (b) the registered
  * batch operator Spectra.waveStatsFromPressure on the same samples —
  * and the recovered wave period/height must match the synthetic wave. */
class StreamWavesSpec extends AnyFunSuite with SharedSpark {

  // 3 bursts of 256 one-second samples: 10 m column, 8 s / 0.5 m wave
  private def samples: Seq[BurstAssembler.Sample] =
    (0 until 768).map { i =>
      BurstAssembler.Sample(7L, 1000L + i,
        10.0 + 0.5 * math.sin(2 * math.Pi * 0.125 * i))
    }

  test("streamed live wave stats equal batch run, batch operator, and physics") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val batch = StreamWaves.fromPressure(samples.toDS(), nsamps = 256,
        fs = 1.0, z = 0.5, nsegs = 4, fcut = Some(0.3))
      .collect().map(_.toString).sorted
    assert(batch.length == 3)

    // the registered batch operator on the identical burst slicing
    val longRows = samples.zipWithIndex.map { case (s, i) =>
      (i / 256L, i % 256L, s.value) }
    val op = graft.ops.Spectra.waveStatsFromPressure(
        longRows.toDF("burst", "sample", "p"), "burst", "sample", "p",
        fs = 1.0, z = 0.5, nsegs = 4, fcut = Some(0.3))
      .collect().map(r => (r.burst, r.wh_4061, r.wp_4060, r.wp_peak)).sortBy(_._1)
    val live = StreamWaves.fromPressure(samples.toDS(), nsamps = 256,
        fs = 1.0, z = 0.5, nsegs = 4, fcut = Some(0.3))
      .collect().sortBy(_.burst)
    for ((o, l) <- op.zip(live)) {
      assert(o._2 == l.wh_4061 && o._3 == l.wp_4060 && o._4 == l.wp_peak,
        s"burst ${o._1}: operator $o vs live $l")
    }
    // physics: 8 s peak period, height ~ H = 2*amplitude at the surface
    assert(math.abs(live(0).wp_peak - 8.0) < 0.5, s"Tp ${live(0).wp_peak}")
    assert(live(0).wh_4061 > 1.0, s"Hs ${live(0).wh_4061}")
    assert(math.abs(live(0).water_depth - 10.5) < 0.01)

    // streamed across 3 triggers with burst 1 split mid-burst
    val in = MemoryStream[BurstAssembler.Sample]
    val out = StreamWaves.fromPressure(in.toDS(), nsamps = 256,
      fs = 1.0, z = 0.5, nsegs = 4, fcut = Some(0.3))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("livewaves").start()
    try {
      in.addData(samples.take(300): _*)
      q.processAllAvailable()
      assert(spark.table("livewaves").count() == 1) // one closed burst so far
      in.addData(samples.slice(300, 600): _*)
      q.processAllAvailable()
      in.addData(samples.drop(600): _*)
      q.processAllAvailable()
      val got = spark.table("livewaves").as[StreamWaves.LiveWaveStats]
        .collect().map(_.toString).sorted
      assert(got.sameElements(batch), "streamed rows diverge from batch run")
    } finally q.stop()
  }
}
