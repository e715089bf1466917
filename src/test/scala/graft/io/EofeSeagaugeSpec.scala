package graft.io

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

class EofeSeagaugeSpec extends AnyFunSuite with SharedSpark {

  private val eaLog: String = {
    val hdr =
      """#DeviceID EA400-123
        |#NSamples 4
        |#Resolution,m 0.05
        |#SoundSpeed,mps 1500.0
        |#Pulses in series,num  2
        |#Interval between series,sec  60.0
        |#Offset,m 0.1
        |""".stripMargin
    // 2 bursts x 2 pings: per-ping annotations then echo counts blocks
    def pingBlock(t: String, alt: Double) =
      s"""#TimeUTC $t
         |#Ping   7
         |#Ping num in series 1
         |#Altitude,m $alt
         |#Temperature,C 12.5
         |#Pitch,deg 1.0
         |#Roll,deg -0.5
         |""".stripMargin
    val counts = (1 to 16).map(i => (i * 1.5).toString).mkString("\n")
    hdr +
      pingBlock("2024-01-01 00:00:00", 2.0) + pingBlock("2024-01-01 00:00:01", 2.1) +
      pingBlock("2024-01-01 00:01:00", 2.2) + pingBlock("2024-01-01 00:01:01", 2.3) +
      "##DataStart\n" + counts + "\n##DataEnd\n"
  }

  test("EofE instMeta scrapes the header block") {
    val m = Eofe.instMeta(eaLog.linesIterator)
    assert(m("EABin_count") == 4)
    assert(m("EAPulses_in_series_num") == 2)
    assert(m("EABin_size_m") == 0.05)
    assert(m("serial_number") == "EA400-123")
  }

  test("EofE point rows group pings into (burst, sample)") {
    val m = Eofe.instMeta(eaLog.linesIterator)
    val rows = Eofe.pointRows(eaLog.linesIterator.toSeq, m)
    assert(rows.length == 4)
    assert(rows.map(r => (r.burst, r.sample)) ==
      Seq((0L, 0L), (0L, 1L), (1L, 0L), (1L, 1L)))
    assert(rows(2).altitudeM == 2.2 && rows(2).timeUtc == "2024-01-01 00:01:00")
  }

  test("EofE profile rows reshape counts to (burst, sample, bin)") {
    val m = Eofe.instMeta(eaLog.linesIterator)
    val rows = Eofe.profileRows(eaLog.linesIterator.toSeq, m)
    assert(rows.length == 16)
    // i=9 → burst 1, sample 0, bin 1, value 10*1.5
    val r = rows(9)
    assert(r.burst == 1 && r.sample == 0 && r.bin == 1 && r.counts == 15.0)
    val df = Eofe.readProfile(spark, eaLog.getBytes("US-ASCII"))
    assert(df.count() == 16)
  }

  test("Seagauge .tid rows with psia→dbar conversion") {
    val tid = """    1 01/01/2024 00:00:00  14.503773800722  12.1
                |    2 01/01/2024 00:06:00  29.007547601444  12.2
                |""".stripMargin
    val f = java.io.File.createTempFile("seagauge", ".tid")
    f.deleteOnExit()
    java.nio.file.Files.writeString(f.toPath, tid)
    val df = Dialects.read(spark, f.getAbsolutePath, Dialects.tid)
    val rows = df.collect()
    assert(rows.length == 2)
    assert(math.abs(rows(0).getDouble(2) - 10.0) < 1e-9)  // 1 atm-ish → 10 dbar
    assert(math.abs(rows(1).getDouble(2) - 20.0) < 1e-9)
  }

  test("Seagauge .wb bursts flatten 4-column rows to long format") {
    val wb = """SBE 26plus
               |* 1 1704067200 x 8 y
               | 14.5037738 14.5037738 14.5037738 14.5037738
               | 29.0075476 29.0075476 29.0075476 29.0075476
               |* 2 1704070800 x 4 y
               | 14.5037738 14.5037738 14.5037738 14.5037738
               |""".stripMargin
    val df = Seagauge.readWb(spark, wb)
    assert(df.count() == 12)
    val b1 = df.filter("burst = 1").collect()
    assert(b1.length == 8 && b1.map(_.getLong(2)).sorted.toSeq == (0L to 7L))
    val b2 = df.filter("burst = 2").collect()
    assert(b2.length == 4 && b2.head.getLong(1) == 1704070800L)
  }

  test("Seagauge .hex metadata scrape") {
    val hex = """SBE 26plus
                |Software Version 1.08
                |*SBE 26plus V 6.1e  SN 1234
                |quartz pressure sensor: serial number = 5678, range = 45 psia
                |tide measurement: interval = 6 minutes, duration = 60 seconds
                |*1024 wave samples/burst at 4 scans/sec, duration = 256 seconds
                |total recorded tide measurements = 7200
                |total recorded wave bursts = 720
                |S>DD
                |""".stripMargin
    val m = Seagauge.readHexMeta(hex.linesIterator)
    assert(m("SGInstrumentType") == "SBE 26plus")
    assert(m("serial_number") == "1234")
    assert(m("SGWaveSamples") == "1024")
    assert(m("SGTideInterval") == "6")
    assert(m("SGNumberOfWaveBursts") == "720")
  }
}
