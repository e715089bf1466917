package graft.io

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

class AquadoppSpec extends AnyFunSuite with SharedSpark {

  private def pad(label: String, value: String): String =
    label.padTo(38, ' ') + value

  test("hdr keyword scrape with 38-column labels and unit suffixes") {
    val hdr = Seq(
      pad("Number of checksum errors", "0"),
      pad("Profile interval", "60 sec"),
      pad("Number of cells", "24"),
      pad("Cell size", "50 cm"),
      pad("Blanking distance", "0.41 m"),
      pad("Average interval", "30 sec"),
      pad("Coordinate system", "BEAM"),
      pad("Number of beams", "3"),
      pad("Orientation", "DOWNLOOKING"),
      pad("Deployment name", "TEST01"),
      pad("Wave - Interval", "3600 sec"),
      pad("Wave - Number of samples", "1024")).mkString("\n")
    val m = Aquadopp.readHdr(hdr)
    assert(m("AQDProfileInterval") == 60)
    assert(m("AQDNumberOfCells") == 24)
    assert(m("AQDCellSize") == 50)
    assert(m("AQDBlankingDistance") == 0.41)
    assert(m("AQDCoordinateSystem") == "BEAM")
    assert(m("WaveNumberOfSamples") == 1024)
    assert(m("AQDDeploymentName") == "TEST01")
  }

  test("HR header detection shifts shared keys to the AQDHR prefix") {
    val hdr = Seq(
      pad("Extended velocity range", "ON"),
      pad("Number of cells", "64"),
      pad("Cell size", "25 mm"),
      pad("Coordinate system", "BEAM")).mkString("\n")
    val m = Aquadopp.readHdr(hdr)
    assert(m("AQDHRNumberOfCells") == 64)
    assert(m("AQDHRCellSize") == 25)
    assert(m("AQDHRCoordinateSystem") == "BEAM")
  }

  test("sen rows assemble time and scale analog counts to volts") {
    val sen = """ 2 15 2024  6 30  0 0 0 13.2 0 271.1 -1.5 0.8 10.12 18.55 32767 0
                | 2 15 2024  6 31  0 0 0 13.1 0 272.0 -1.4 0.9 10.15 18.60 65535 0
                |""".stripMargin
    val df = Aquadopp.readSen(spark, sen)
    val rows = df.orderBy("ens").collect()
    assert(rows.length == 2)
    assert(rows(0).getTimestamp(1).toInstant.toString == "2024-02-15T06:30:00Z")
    assert(rows(0).getDouble(df.columns.indexOf("heading")) == 271.1)
    assert(math.abs(rows(0).getDouble(df.columns.indexOf("analog1")) - 32767.0 * 5 / 65535) < 1e-12)
    assert(math.abs(rows(1).getDouble(df.columns.indexOf("analog1")) - 5.0) < 1e-12)
  }

  test("amplitude/velocity matrices go long-format (ens, bin, value)") {
    val a1 = """100 101 102
               |110 111 112
               |""".stripMargin
    val df = Aquadopp.readMatrix(spark, a1, "amp1")
    assert(df.count() == 6)
    val r = df.filter("ens = 1 AND bin = 2").collect()(0)
    assert(r.getDouble(2) == 112.0)
    assert(Aquadopp.velNames("ENU") == Seq("U", "V", "W"))
    assert(Aquadopp.velNames("BEAM") == Seq("VEL1", "VEL2", "VEL3"))
  }

  test("wad wave bursts reshape and truncate to full bursts") {
    // 5 rows, 2 samples/burst -> last row truncated
    val wad = (0 until 5).map { i =>
      s"3 1 ${10.0 + i} 0 0 ${0.1 * i} ${0.2 * i} ${0.3 * i} 0 $i ${i + 1} ${i + 2} 0"
    }.mkString("\n")
    val df = Aquadopp.readWad(spark, wad, samplesPerBurst = 2, coordSystem = "ENU")
    assert(df.count() == 4)
    assert(df.columns.toSeq == Seq("burst", "sample", "pressure",
      "U", "V", "W", "amp1", "amp2", "amp3"))
    val r = df.filter("burst = 1 AND sample = 1").collect()(0)
    assert(r.getDouble(df.columns.indexOf("pressure")) == 13.0)
    assert(r.getDouble(df.columns.indexOf("amp1")) == 3.0)
  }
}
