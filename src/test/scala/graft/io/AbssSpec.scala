package graft.io

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

/** AQUAscat multi-frequency burst ingest (stglib/abss.py:14-255,490-550):
  * per-burst .mat, xdcr_freq axis sorted ascending, amp dB conversion,
  * aux channels, multi-file concat. */
class AbssSpec extends AnyFunSuite with SharedSpark {
  import Mat5Fixture._

  // 2 bins x 2 samples x 2 transducers; transducer 0 at 4 MHz, 1 at 1 MHz
  // (deliberately DESCENDING so the freq sort matters)
  private def burstMat(timeS: String, burstNum: Double): Array[Byte] = {
    // AbsData column-major over (bin, sample, xdcr):
    // el(b, s, x) = 0.001*(100*x + 10*s + b)
    val abs = for (x <- 0 until 2; s <- 0 until 2; b <- 0 until 2)
      yield 0.001 * (100 * x + 10 * s + b)
    // AbsBinRange (bin x xdcr)
    val br = Seq(0.1, 0.2, 0.15, 0.3) // x0: 0.1, 0.2; x1: 0.15, 0.3
    val mean = Seq(5.0, 6.0, 7.0, 8.0)
    val aux = Seq(10.1, 10.2, 10.3, /* Pressure */ 21.0, 21.1, 21.2 /* Temp */ )
    matFile(
      matrixChars("BurstTime", timeS),
      matrixNum("BurstNumber", 1, 1, burstNum),
      matrixNum("AbsBinRange", 2, 2, br: _*),
      matrixNum("AbsTxFrequency", 1, 2, 4e6, 1e6),
      matrixNum3("AbsData", 2, 2, 2, abs: _*), // (bins, samples, xdcr)
      matrixNum("AbsMean", 2, 2, mean: _*),
      matrixNum("NumAuxSamples", 1, 1, 3.0),
      matrixNum("AuxData", 3, 2, aux: _*),
      matrixCell("AuxChannelName", Seq(
        matrixChars("", "Pressure"), matrixChars("", "Ext Temperature"))))
  }

  test("burst read: ascending xdcr_freq, bindist per transducer, amp dB") {
    val d = Abss.readBurst(spark, Mat5.parse(burstMat("2024-02-01 00:00:00", 1)))
    val abs = d.abs
    assert(abs.count() == 8) // 2 freq x 2 bin x 2 sample
    val freqs = abs.select("xdcr_freq").distinct()
      .collect().map(_.getDouble(0)).sorted.toSeq
    assert(freqs == Seq(1.0, 4.0)) // MHz, both present
    // transducer 1 (1 MHz) bindist: 0.15, 0.3
    val r = abs.filter("xdcr_freq = 1.0 AND bin = 1 AND sample = 0").collect()(0)
    assert(r.getDouble(abs.columns.indexOf("bindist")) == 0.3)
    // counts el(b=1, s=0, x=1) = 0.101; amp = 20 log10(0.101*65536)
    assert(math.abs(r.getDouble(abs.columns.indexOf("abs")) - 0.101) < 1e-12)
    assert(math.abs(r.getDouble(abs.columns.indexOf("amp")) -
      20.0 * math.log10(0.101 * 65536)) < 1e-9)
    assert(r.getDouble(abs.columns.indexOf("mean_abs")) == 8.0)
    // aux channels named, spaces stripped
    assert(d.aux.columns.toSeq == Seq("time", "aux_sample", "Pressure", "ExtTemperature"))
    assert(d.aux.count() == 3)
    val a = d.aux.orderBy("aux_sample").collect()
    assert(a(2).getDouble(2) == 10.3 && a(0).getDouble(3) == 21.0)
  }

  test("deployment ingest: multi-file union sorted by time + CLI dispatch") {
    val dir = java.nio.file.Files.createTempDirectory("abss").toFile
    // file order deliberately reversed vs time
    java.nio.file.Files.write(new java.io.File(dir, "b1.mat").toPath,
      burstMat("2024-02-01 01:00:00", 2))
    java.nio.file.Files.write(new java.io.File(dir, "b2.mat").toPath,
      burstMat("2024-02-01 00:00:00", 1))
    val d = Abss.ingest(spark, dir.getAbsolutePath)
    assert(d.abs.count() == 16 && d.aux.count() == 6)
    val times = d.abs.select("time").distinct().orderBy("time").collect()
    assert(times(0).getTimestamp(0).toInstant.toString == "2024-02-01T00:00:00Z")

    val out = new java.io.File(dir, "raw").getAbsolutePath
    graft.cli.RunOts.runStep(spark, "abss", "ingest",
      graft.core.Meta(Map.empty[String, Any]), dir.getAbsolutePath, out)
    assert(spark.read.parquet(out).count() == 16)
    assert(spark.read.parquet(out + "_aux").count() == 6)
  }
}
