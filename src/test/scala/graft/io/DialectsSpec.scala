package graft.io

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

class DialectsSpec extends AnyFunSuite with SharedSpark {

  /** `text` in a temp file, read as dialect `d`. */
  private def read(text: String, d: Dialects.Dialect) = {
    val f = java.io.File.createTempFile("dialect", ".txt")
    f.deleteOnExit()
    java.nio.file.Files.writeString(f.toPath, text)
    Dialects.read(spark, f.getAbsolutePath, d)
  }

  test("Marotte csv: title line skipped, 9 fixed columns, timestamp parse") {
    val csv = """MAROTTE HS title line, ignore
                |2024-03-01 00:00:00,0.12,184.2,0.15,0.09,12.1,185.0,3.61,18.4
                |2024-03-01 00:00:01,0.13,184.9,0.16,0.10,12.0,185.5,3.61,18.4
                |""".stripMargin
    val df = read(csv, Dialects.marotte)
    assert(df.count() == 2)
    val r = df.orderBy("time").collect()(0)
    assert(r.getTimestamp(0).toInstant.toString == "2024-03-01T00:00:00Z")
    assert(r.getDouble(df.columns.indexOf("speed")) == 0.12)
    assert(r.getDouble(df.columns.indexOf("temp")) == 18.4)
  }

  test("Geolux TOA5: names row, units/agg rows dropped, RECORD int") {
    val dat = Seq(
      "\"TOA5\",\"glx\",\"CR1000X\",\"12345\"",
      "\"TIMESTAMP\",\"RECORD\",\"distance\",\"amplitude\"",
      "\"TS\",\"RN\",\"m\",\"dB\"",
      "\"\",\"\",\"Smp\",\"Smp\"",
      "\"2024-03-01 00:00:00\",10,4.512,61.2",
      "\"2024-03-01 00:00:01\",11,4.513,60.8").mkString("\n")
    val df = read(dat, Dialects.toa5)
    assert(df.count() == 2)
    assert(df.columns.toSet == Set("time", "RECORD", "distance", "amplitude"))
    val r = df.orderBy("time").collect()(1)
    assert(r.getLong(df.columns.indexOf("RECORD")) == 11L)
    assert(r.getDouble(df.columns.indexOf("distance")) == 4.513)
    assert(r.getTimestamp(df.columns.indexOf("time")).toInstant.toString ==
      "2024-03-01T00:00:01Z")
  }

  test("Lowell TCM _CR.txt rows") {
    val txt = """DateTime,Speed (cm/s),Bearing (deg),Velocity-N (cm/s),Velocity-E (cm/s)
                |2024-03-01 00:00:00,5.2,184.0,-5.19,-0.36
                |2024-03-01 00:00:30,5.4,186.0,-5.37,-0.56
                |""".stripMargin
    val df = read(txt, Dialects.tcm(1))
    assert(df.count() == 2)
    val r = df.orderBy("time").collect()(0)
    assert(r.getDouble(df.columns.indexOf("speed")) == 5.2)
    assert(r.getDouble(df.columns.indexOf("vel_n")) == -5.19)
  }

  test("Mayfly csv with -9999 missing values") {
    val txt = (Seq.fill(7)("preamble") ++ Seq(
      "Date and Time in UTC,Temp,Turb",
      "2024-03-01 00:00:00,18.5,12.1",
      "2024-03-01 00:15:00,-9999,12.2")).mkString("\n")
    val df = read(txt, Dialects.mayfly(7))
    assert(df.count() == 2)
    val rows = df.orderBy("time").collect()
    assert(rows(0).getDouble(df.columns.indexOf("Temp")) == 18.5)
    assert(rows(1).isNullAt(df.columns.indexOf("Temp")))
  }

  test("ECO NTU/PAR tab-separated with counts column selection") {
    val par = "05/01/24\t12:00:00\t512\n05/01/24\t12:00:01\t514\n"
    val dfPar = read(par, Dialects.eco(2))
    assert(dfPar.count() == 2)
    assert(dfPar.orderBy("time").collect()(0).getDouble(1) == 512.0)
    val ntu = "05/01/24\t12:00:00\t700\t123\t456\n"
    val dfNtu = read(ntu, Dialects.eco(3))
    assert(dfNtu.collect()(0).getDouble(1) == 123.0)
  }

  test("MicroCAT .asc: * header and prompt lines skipped") {
    val txt = """* SBE37-SM V 2.6b  SERIAL NO. 1234  01 Mar 2024  00:00:00
                |* sample interval = 60 seconds
                |*S>
                | 18.7301, 4.23450, 29.9182, 01 Mar 2024, 00:00:00
                | 18.7302, 4.23455, 29.9183, 01 Mar 2024, 00:01:00
                |""".stripMargin
    val df = read(txt, Dialects.microcat)
    assert(df.count() == 2)
    val r = df.orderBy("time").collect()(0)
    assert(r.getDouble(df.columns.indexOf("temp")) == 18.7301)
    assert(r.getTimestamp(0).toInstant.toString == "2024-03-01T00:00:00Z")
  }

  test("Aqua TROLL csv with unit-suffix column renames") {
    val txt = (Seq.fill(3)("preamble") ++ Seq(
      "Date and Time (UTC),Temperature (C),Actual Conductivity (\u00b5S/cm),Pressure (PSI)",
      "2024-03-01 00:00:00,18.5,30123.0,14.7",
      "2024-03-01 00:01:00,18.6,30150.0,14.8")).mkString("\n")
    val df = read(txt, Dialects.troll(3))
    assert(df.columns.toSet == Set("time", "temperature", "conductivity", "pressure"))
    assert(df.count() == 2)
    assert(df.orderBy("time").collect()(0).getDouble(
      df.columns.indexOf("conductivity")) == 30123.0)
  }

  test("TruBlue csv with keyword header block") {
    val txt = """Transducer Model : TB255
                |Transducer Serial : 998877
                |Scan Type : Normal
                |ID,Name,Address,Scan Date & Time,Elapsed Time,Pressure,Temperature
                |1,TB,0,2024-03-01 00:00:00,0.0,10.13,18.2
                |2,TB,0,2024-03-01 00:10:00,600.0,10.14,18.3
                |""".stripMargin
    val df = read(txt, Dialects.truBlue)
    assert(df.count() == 2)
    val r = df.orderBy("time").collect()(1)
    assert(r.getDouble(df.columns.indexOf("P_1")) == 10.14)
  }

  test("Argonaut .dat: Y/M/D/H/M/S columns assemble time, data cols named") {
    val dat = """Year Month Day Hour Minute Second VelX VelY SNR1
                | 2024 2 1 0 0 0 0.12 -0.03 21.5
                | 2024 2 1 0 30 0 0.15 -0.01 22.0
                |""".stripMargin
    val df = read(dat, Dialects.argonautDat)
    assert(df.count() == 2)
    val r = df.orderBy("time").collect()(0)
    assert(r.getTimestamp(df.columns.indexOf("time")).toInstant.toString
      == "2024-02-01T00:00:00Z")
    assert(r.getDouble(df.columns.indexOf("VelX")) == 0.12)
    assert(r.getDouble(df.columns.indexOf("SNR1")) == 21.5)
  }

  test("Argonaut profile set: .vel/.snr/.std long-format, .ctl geometry," +
       " .dat level join") {
    def table(fields: Seq[String], mk: (Int, Int, String) => Double): String = {
      // two header rows: group row (Cell01 Cell01 ...), field row
      val g = (Seq("Sample", "Year", "Month", "Day", "Hour", "Minute",
        "Second") ++ (1 to 2).flatMap(c => fields.map(_ => f"Cell$c%02d")))
        .mkString(" ")
      val f2 = (Seq("#", "Y", "M", "D", "H", "M", "S") ++
        (1 to 2).flatMap(_ => fields)).mkString(" ")
      val rows = (0 until 3).map { t =>
        (Seq(t + 1, 2024, 2, 1, 0, t * 10, 0) ++
          (1 to 2).flatMap(c => fields.map(fl => mk(t, c, fl)))).mkString(" ")
      }
      (Seq(g, f2) ++ rows).mkString("\n")
    }
    val vel = table(Seq("Vx", "Vy", "Spd", "Dir"),
      (t, c, fl) => 100.0 * c + 10 * t +
        Seq("Vx", "Vy", "Spd", "Dir").indexOf(fl))
    val snr = table(Seq("SNR1", "SNR2"),
      (t, c, fl) => 30.0 + c + t + (if (fl == "SNR2") 0.5 else 0.0))
    val std = table(Seq("Errx", "Erry"),
      (t, c, fl) => 1.0 * c + (if (fl == "Erry") 0.25 else 0.0))
    val ctl = Seq("Some preamble", "  BlankDistance ........... 0.5",
      "  CellSize ................ 1.0").mkString("\n")
    val dat = Seq("Year Month Day Hour Minute Second Level Flow",
      "2024 2 1 0 0 0 3.25 12.0", "2024 2 1 0 10 0 3.35 12.5",
      "2024 2 1 0 20 0 3.45 13.0").mkString("\n")
    val datFile = java.io.File.createTempFile("argonaut", ".dat")
    datFile.deleteOnExit()
    java.nio.file.Files.writeString(datFile.toPath, dat)
    val df = Dialects.readArgonautProfile(spark, vel, snr, std, ctl,
      Some(datFile.getAbsolutePath))
    assert(df.count() == 6) // 3 times x 2 bins
    val cols = df.columns
    val r = df.filter("bin = 1").orderBy("time").collect()(0)
    // bindist = 0.5 + 1*1.0 + 0.5 (per-manual center of second cell)
    assert(r.getDouble(cols.indexOf("bindist")) == 2.0)
    // Cell02 at t=0: vx = 200, dir = 203
    assert(r.getDouble(cols.indexOf("vx")) == 200.0)
    assert(r.getDouble(cols.indexOf("dir")) == 203.0)
    assert(r.getDouble(cols.indexOf("snr2")) == 32.5)
    assert(r.getDouble(cols.indexOf("erry")) == 2.25)
    assert(r.getDouble(cols.indexOf("level")) == 3.25)
    val t0 = df.orderBy("time").collect()(0)
      .getTimestamp(cols.indexOf("time"))
    assert(t0.toInstant.toString == "2024-02-01T00:00:00Z")
  }
}
