package graft.io

import graft.SharedSpark
import java.nio.{ByteBuffer, ByteOrder}
import org.scalatest.funsuite.AnyFunSuite

class Son81RSpec extends AnyFunSuite with SharedSpark {

  /** Build one 881A-GS ping record per the manual layout mirrored in
    * sonutils.py: 1024 header + 1024 device list + 40 switch + 32 return
    * header + echo bytes, padded to totalBytes. */
  private def ping(pingNum: Int, headPos: Int, stepDir: Int,
                   nData: Int, total: Int): Array[Byte] = {
    val rec = new Array[Byte](total)
    // ping header
    rec(0) = '8'; rec(1) = '1'; rec(2) = 'R'
    rec(3) = 1 // 881A-GS → 40/32 blocks
    ByteBuffer.wrap(rec, 4, 4).order(ByteOrder.LITTLE_ENDIAN).putInt(total)
    "0320241230155".getBytes.copyToArray(rec, 14) // time string field
    rec(319) = 1 // orientation up
    rec(324) = 1 // polar mode
    ByteBuffer.wrap(rec, 338, 4).order(ByteOrder.LITTLE_ENDIAN).putFloat(1483.1f)
    ByteBuffer.wrap(rec, 373, 4).order(ByteOrder.LITTLE_ENDIAN).putFloat(0.02f)
    ByteBuffer.wrap(rec, 377, 4).order(ByteOrder.LITTLE_ENDIAN).putInt(pingNum)
    // switch command at 2048
    val sw = 2048
    rec(sw + 11) = 70           // train angle 3*70-180 = 30
    rec(sw + 13) = 10           // step size 3.0 deg
    rec(sw + 19) = (nData / 10).toByte
    rec(sw + 25) = 100          // 675 kHz
    // return header at 2088
    val rh = sw + 40
    rec(rh + 5) = (headPos % 128).toByte
    rec(rh + 6) = ((headPos / 128) | (stepDir << 6)).toByte
    // manual's 14-bit split-byte fields: ProfileRange 450, SonarPosition
    // 650 (angle 15°), Pitch 512 (11.25°), Roll 1024 (22.5°),
    // Heading 2048 (45°), GyroHeading 4096 (90°)
    def put14(lo: Int, hi: Int, v: Int): Unit = {
      val hb = v >> 8; val lb = v & 0xff
      rec(rh + hi) = ((hb << 1) | (lb >> 7)).toByte
      rec(rh + lo) = (lb & 0x7f).toByte
    }
    put14(8, 9, 450); put14(12, 13, 650); put14(14, 15, 512)
    put14(16, 17, 1024); put14(18, 19, 2048); put14(21, 22, 4096)
    // echo data ramp
    val d0 = rh + 32
    for (i <- 0 until nData) rec(d0 + i) = (i % 256).toByte
    rec
  }

  test("decodes fixed-size ping records with bit-packed head position") {
    val total = 2048 + 40 + 32 + 500
    val stream = ping(1, 700, 0, 200, total) ++ ping(2, 710, 1, 200, total)
    val rows = Son81R.decode(stream).toList
    assert(rows.length == 2)
    val r0 = rows.head
    assert(r0.ping == 1 && r0.headPosition == 700)
    assert(math.abs(r0.headAngleDeg - (700 - 600) * 3.0) < 1e-9)
    assert(r0.stepDirection == 0 && rows(1).stepDirection == 1)
    // return-header attitude fields (sonutils.py:139-176)
    assert(r0.profileRange == 450 && r0.sonarPosition == 650)
    assert(math.abs(r0.sonarAngleDeg - 15.0) < 1e-9)
    assert(math.abs(r0.pitch - 512 * 360.0 / 16384) < 1e-9)
    assert(math.abs(r0.roll - 1024 * 360.0 / 16384) < 1e-9)
    assert(math.abs(r0.heading - 45.0) < 1e-9)
    assert(math.abs(r0.gyroHeading - 90.0) < 1e-9)
    // reference keeps offset:-1 — all bytes to totalBytes-1, not NDataPoints
    assert(r0.intensities.length == total - (2048 + 40 + 32) - 1)
    assert((r0.intensities(5) & 0xff) == 5)
    assert((r0.intensities(499 - 1) & 0xff) == 0) // padding beyond the ramp
    val h = Son81R.parsePingHeader(stream.take(1024))
    assert(h.orientationUp && h.mode == 1)
    assert(math.abs(h.soundVelocity - 1483.1f) < 1e-3)
  }

  test("RunOts .81R ingest: filename mmdd + header YYYYHHMMSS.f -> time") {
    val total = 2048 + 40 + 32 + 100
    val rec = ping(1, 700, 0, 50, total)
    "2024123015.50".getBytes.copyToArray(rec, 14)
    val dir = java.nio.file.Files.createTempDirectory("son81r").toFile
    val f = new java.io.File(dir, "dep_03150000.81R")
    java.nio.file.Files.write(f.toPath, rec)
    val out = new java.io.File(dir, "raw").getAbsolutePath
    graft.cli.RunOts.runStep(spark, "son", "ingest",
      graft.core.Meta(Map.empty[String, Any]), f.getAbsolutePath, out)
    val df = spark.read.parquet(out)
    assert(df.count() == 1)
    val t = df.collect()(0).getTimestamp(df.columns.indexOf("time"))
    assert(t.toInstant.toString == "2024-03-15T12:30:15.500Z")
  }

  test("RunOts son directory ingest: sweep sets, trim, set-level time") {
    val total = 2048 + 40 + 32 + 100
    val dir = java.nio.file.Files.createTempDirectory("son_dir").toFile
    // two complete 2-sweep sets (names: mmddHH + sweep tag; set key =
    // name[:-6], sweep tag at [6:8]) + ONE trailing file that cannot
    // complete a set -> trimmed like the reference's len % n_sweeps cut
    def put(name: String, timeRaw: String): Unit = {
      val rec = ping(1, 700, 0, 50, total) ++ ping(2, 705, 0, 50, total)
      timeRaw.getBytes.copyToArray(rec, 14)
      timeRaw.getBytes.copyToArray(rec, total + 14)
      java.nio.file.Files.write(new java.io.File(dir, name).toPath, rec)
    }
    put("031400AE.81R", "2024000010.00")
    put("031400AF.81R", "2024000110.00")
    put("031402AE.81R", "2024020010.00")
    put("031402AF.81R", "2024020110.00")
    put("031404AE.81R", "2024040010.00") // incomplete set -> trimmed
    val out = new java.io.File(dir, "raw").getAbsolutePath
    graft.cli.RunOts.runStep(spark, "son", "ingest",
      graft.core.Meta(Map.empty[String, Any]), dir.getAbsolutePath, out)
    val df = spark.read.parquet(out)
    assert(df.count() == 8, s"4 kept files x 2 pings, got ${df.count()}")
    for (c <- Seq("time", "sweep", "scan", "HeadPosition", "HeadAngle",
                  "Pitch", "Roll", "Heading", "GyroHeading", "SonarPosition",
                  "SonarAngle", "ProfileRange", "sonar_image"))
      assert(df.columns.contains(c), s"missing $c")
    val rows = df.select("time", "sweep", "scan").collect()
      .map(r => (r.getTimestamp(0).toInstant.toString, r.getInt(1), r.getInt(2)))
    // set time = FIRST sweep's first ping, shared by both sweeps of the set
    assert(rows.count(_._1 == "2024-03-14T00:00:10Z") == 4)
    assert(rows.count(_._1 == "2024-03-14T02:00:10Z") == 4)
    assert(rows.map(_._2).toSet == Set(1, 2))
    assert(!rows.exists(_._1.startsWith("2024-03-14T04")), "trimmed set leaked")

    // full chain: clean renames + theta + the sweep-averaged sibling with
    // the image averaged elementwise (identical sweeps -> ramp unchanged)
    val clean = new java.io.File(dir, "clean").getAbsolutePath
    graft.cli.RunOts.runStep(spark, "son", "clean",
      graft.core.Meta(Map[String, Any]("magnetic_variation" -> 10.0)), out, clean)
    val c = spark.read.parquet(clean)
    assert(c.count() == 8 && c.columns.contains("Hdg_1215") &&
      c.columns.contains("theta"))
    val a = spark.read.parquet(clean + "-a")
    // mean over sweep keeps (time, scan): 2 sets x 2 scans
    assert(a.count() == 4, s"avg rows ${a.count()}")
    val a0 = a.orderBy("time", "scan").head()
    // heading 45 + magvar 10 = 55, vector-avg of identical sweeps = 55
    assert(math.abs(a0.getAs[Double]("Hdg_1215") - 55.0) < 1e-9)
    val img = a0.getAs[scala.collection.Seq[Double]]("sonar_image")
    assert(img.length == 99 && img(5) == 5.0 && img(60) == 0.0)
  }
}
