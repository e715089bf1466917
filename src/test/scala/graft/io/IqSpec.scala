package graft.io

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

/** SonTek IQ flat-MAT traversal (stglib/iq.py:172-445): y2k-microsecond
  * time, velbeam/beam wide arrays, VelXYZ split, truncation of over-long
  * profile arrays, per-sample bindist, RunOts dispatch. */
class IqSpec extends AnyFunSuite with SharedSpark {
  import Mat5Fixture._

  // 3 samples at 10-min cadence from 2024-02-01T00:00 (us since 2000-01-01)
  private val t0us = (java.time.Instant.parse("2024-02-01T00:00:00Z").getEpochSecond -
    java.time.Instant.parse("2000-01-01T00:00:00Z").getEpochSecond) * 1000000.0
  private val nt = 3

  private def iqMat: Array[Byte] = {
    val times = (0 until nt).map(i => t0us + i * 600e6)
    // FlowData_Vel: (time x 4 velbeams), column-major
    val vel = (0 until 4).flatMap(b => (0 until nt).map(t => 100.0 * b + t))
    // VelXYZ: (time x 4): X_Center, Z_Center, X_Left, X_Right
    val velxyz = (0 until 4).flatMap(j => (0 until nt).map(t => 1000.0 + 10 * j + t))
    // Profile_0_Vel: one EXTRA profile row (truncates to nt), 2 bins
    val p0 = (0 until 2).flatMap(b => (0 until (nt + 1)).map(t => 10.0 * b + t))
    val blank = (0 until (nt + 1)).map(_ => 240.0)  // mm
    val cs = (0 until (nt + 1)).map(i => 100.0 + i) // mm, varies per sample
    val adv = matrixStruct("", Seq(
      "recordSubSampleProfiles" -> matrixNum("", 1, 1, 1.0)))
    val setup = matrixStruct("System_IqSetup", Seq("advancedSetup" -> adv))
    matFile(
      matrixNum("FlowData_SampleTime", nt, 1, times: _*),
      matrixNum("FlowData_Depth", nt, 1, 1.5, 1.6, 1.7),
      matrixNum("FlowData_Vel", nt, 4, vel: _*),
      matrixNum("FlowData_VelXYZ", nt, 4, velxyz: _*),
      matrixNum("Profile_0_Vel", nt + 1, 2, p0: _*),
      matrixNum("FlowSubData_PrfHeader_0_BlankingDistance", nt + 1, 1, blank: _*),
      matrixNum("FlowSubData_PrfHeader_0_CellSize", nt + 1, 1, cs: _*),
      setup)
  }

  test("flow series: y2k time base, scalar + velbeam array + VelXYZ split") {
    val iq = Iq.read(spark, Mat5.parse(iqMat))
    val f = iq.flow
    assert(f.count() == nt)
    val r = f.orderBy("time").collect()(0)
    assert(r.getTimestamp(0).toInstant.toString == "2024-02-01T00:00:00Z")
    assert(r.getDouble(f.columns.indexOf("Depth")) == 1.5)
    // velbeam array column (4 wide), column-major el (b=2, t=0) = 200
    assert(r.getSeq[Double](f.columns.indexOf("Vel")) == Seq(0.0, 100.0, 200.0, 300.0))
    assert(r.getDouble(f.columns.indexOf("Vel_X_Center")) == 1000.0)
    assert(r.getDouble(f.columns.indexOf("Vel_X_Right")) == 1030.0)
  }

  test("profiles: truncation to time length, per-sample bindist in meters") {
    val iq = Iq.read(spark, Mat5.parse(iqMat))
    val p = iq.profiles
    // extra profile row dropped: 3 times x 2 bins for beam 0
    assert(p.count() == nt * 2)
    val r = p.filter("bin = 1").orderBy("time").collect()
    // bindist(t=0, bin=1) = (240 + 100 + 1*100)/1000
    assert(math.abs(r(0).getDouble(p.columns.indexOf("bindist")) - 0.44) < 1e-12)
    // cell size grows with sample: t=2 -> (240 + 102 + 102)/1000
    assert(math.abs(r(2).getDouble(p.columns.indexOf("bindist")) - 0.444) < 1e-12)
    // column-major value (bin 1, t 0) = 10
    assert(r(0).getDouble(p.columns.indexOf("Vel")) == 10.0)
  }

  test("velToMs scales scalar and array Vel columns") {
    val iq = Iq.read(spark, Mat5.parse(iqMat))
    val f = Iq.velToMs(iq.flow)
    val r = f.orderBy("time").collect()(0)
    assert(r.getSeq[Double](f.columns.indexOf("Vel")) == Seq(0.0, 0.1, 0.2, 0.3))
    assert(r.getDouble(f.columns.indexOf("Vel_X_Center")) == 1.0)
  }

  test("RunOts iq dispatch writes flow + profiles, shifts to sample middle") {
    val dir = java.nio.file.Files.createTempDirectory("iq_cli").toFile
    val mat = new java.io.File(dir, "dep.mat")
    java.nio.file.Files.write(mat.toPath, iqMat)
    val out = new java.io.File(dir, "raw").getAbsolutePath
    graft.cli.RunOts.runStep(spark, "iq", "ingest",
      graft.core.Meta(Map("flowSampleDuration" -> 120.0)),
      mat.getAbsolutePath, out)
    val flow = spark.read.parquet(out)
    assert(flow.count() == nt)
    val t = flow.orderBy("time").collect()(0).getTimestamp(0)
    assert(t.toInstant.toString == "2024-02-01T00:01:00Z") // +60 s
    assert(spark.read.parquet(out + "_profiles").count() == nt * 2)
  }
}
