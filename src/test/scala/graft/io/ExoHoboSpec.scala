package graft.io

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

class ExoHoboSpec extends AnyFunSuite with SharedSpark {
  test("EXO: header block skipped, casing normalized, date+time merged") {
    val f = java.io.File.createTempFile("exo", ".csv")
    val w = new java.io.PrintWriter(f)
    (1 to 8).foreach(i => w.println(s"KOR export metadata line $i"))
    w.println("Date (MM/DD/YYYY),Time (HH:mm:ss),Temp °C,SpCond µS/cm,Turbidity FNU")
    w.println("1/15/2024,0:00:00,21.31,48012.2,3.4")
    w.println("1/15/2024,0:15:00,21.35,48013.8,3.6")
    w.close()
    val df = Dialects.read(spark, f.getAbsolutePath, Dialects.exo(8))
    assert(df.count() == 2)
    assert(df.columns.contains("time"))
    assert(df.columns.exists(_.startsWith("temp")))
    val r = df.orderBy("time").head()
    assert(r.getTimestamp(df.columns.indexOf("time")).toInstant.toString
      == "2024-01-15T00:00:00Z")
  }

  test("EXO: data scan is splittable — no single-task file bound (wholetext is gone)") {
    val f = java.io.File.createTempFile("exobig", ".csv")
    val w = new java.io.PrintWriter(f)
    (1 to 8).foreach(i => w.println(s"KOR export metadata line $i"))
    w.println("Date (MM/DD/YYYY),Time (HH:mm:ss),Temp °C")
    for (i <- 0 until 500) {
      val mm = i % 60; val hh = (i / 60) % 24
      w.println(f"1/15/2024,$hh%d:$mm%02d:00,${20.0 + (i % 17) * 0.1}%.1f")
    }
    w.close()
    withConf("spark.sql.files.maxPartitionBytes" -> "2048") {
      val df = Dialects.read(spark, f.getAbsolutePath, Dialects.exo(8))
      assert(df.rdd.getNumPartitions > 1, "text scan should split the file")
      assert(df.count() == 500)
      assert(df.select("time").distinct().count() == 500) // every line parsed
    }
  }

  test("EXO and HOBO: a Latin-1 header drops out of the data scan, names decoded") {
    def latin1(lines: String*) = {
      val f = java.io.File.createTempFile("latin1", ".csv")
      f.deleteOnExit()
      java.nio.file.Files.write(f.toPath, lines.map(_ + "\n").mkString.getBytes("ISO-8859-1"))
      f.getAbsolutePath
    }
    val exo = Dialects.read(spark, latin1((1 to 8).map(i => s"KOR export metadata line $i") ++
      Seq("Date (MM/DD/YYYY),Time (HH:mm:ss),Temp °C,SpCond µS/cm",
        "1/15/2024,0:00:00,21.31,48012.2", "1/15/2024,0:15:00,21.35,48013.8"): _*),
      Dialects.exo(8))
    assert(exo.columns.toSeq == Seq("temp_°c", "spcond_µs_per_cm", "time"))
    assert(exo.count() == 2)
    val hobo = Dialects.read(spark, latin1("Plot Title: 10973214 ° logger",
      "#,Date Time,Abs Pres kPa,Temp °C", "1,01/15/24 12:00:00 AM,101.325,21.5"),
      Dialects.hobo(1))
    assert(hobo.count() == 1)
  }

  test("HOBO: title row skipped, kPa -> dbar, EPIC renames") {
    val f = java.io.File.createTempFile("hobo", ".csv")
    val w = new java.io.PrintWriter(f)
    w.println("Plot Title: 10973214 logger")
    w.println("#,Date Time,Abs Pres,Temp")
    w.println("1,01/15/24 12:00:00 AM,101.325,21.5")
    w.println("2,01/15/24 12:15:00 AM,101.300,21.4")
    w.close()
    val df = Dialects.read(spark, f.getAbsolutePath, Dialects.hobo(1))
    assert(df.count() == 2)
    assert(df.columns.toSet == Set("time", "AbsPres_dbar", "T_28"))
    val r = df.orderBy("time").head()
    assert(math.abs(r.getAs[Double]("AbsPres_dbar") - 10.1325) < 1e-9)
    assert(r.getAs[Double]("T_28") == 21.5)
  }
}
