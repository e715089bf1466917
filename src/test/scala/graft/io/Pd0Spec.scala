package graft.io

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite
import java.io.ByteArrayOutputStream

/** Synthesizes valid PD0 ensembles byte-for-byte per the TRDI layout
  * (mirroring stglib/rdi/rdiadcpy.py offsets) and round-trips the decoder. */
class Pd0Spec extends AnyFunSuite with SharedSpark {

  private def ensemble(ensNum: Int, ncells: Int, nbeams: Int,
                       velFn: (Int, Int) => Int): Array[Byte] =
    Pd0Fixture.ensemble(ensNum, ncells, nbeams, velFn)

  test("decodes a two-ensemble stream: geometry, time, sensors, velocities") {
    val e1 = ensemble(1, ncells = 4, nbeams = 4, (c, b) => 100 * c + 10 * b)
    val e2 = ensemble(2, ncells = 4, nbeams = 4,
      (c, b) => if (c == 3) -32768 else -(100 * c + 10 * b))
    val rows = Pd0.decode(e1 ++ e2).toList
    assert(rows.length == 8)
    val r0 = rows.head
    assert(r0.ensemble == 1 && r0.bin == 0)
    assert(r0.bindistM == 1.6)
    assert(rows(1).bindistM == 2.6) // +1 m cell length
    assert(r0.vel1.contains(0) && r0.vel2.contains(10) && r0.vel4.contains(30))
    assert(r0.headingDeg == 123.45 && r0.pitchDeg == -2.5 && r0.rollDeg == 1.5)
    assert(r0.temperatureC == 21.5 && r0.xducerDepthM == 10.5)
    assert(java.time.Instant.ofEpochMilli(r0.timeUs / 1000).toString
      == "2024-03-15T12:30:45.500Z")
    assert(r0.cor1 == 100 && r0.echo1 == 60)
    // percent-good (0x0400) and bottom-track (0x0600) round-trip
    assert(r0.pg1 == 90 && r0.pg2 == 91 && r0.pg4 == 93)
    assert(r0.btRangeM1.contains(12.0) && r0.btRangeM4.contains(12.3))
    assert(r0.btVel1.contains(-50) && r0.btVel3.contains(-40))
    // vertical beam (0x0F01 leader + 0x0A00/0x0B00/0x0C00/0x0D00) round-trip
    assert(r0.vel5.contains(500) && rows(1).vel5.contains(501))
    assert(r0.cor5.contains(80) && r0.echo5.contains(40))
    assert(r0.pg5.contains(95) && rows(1).pg5.contains(94))
    // instrument transformation matrix (0x3200): axis-major raw i16
    val xm = r0.xform.get
    assert(xm.length == 12 && xm(0) == 14619 && xm(4) == 1000 && xm(9) == 2001)
    // bad-value sentinel → None
    val e2bad = rows.filter(r => r.ensemble == 2 && r.bin == 3)
    assert(e2bad.head.vel1.isEmpty && e2bad.head.vel2.isEmpty)
  }

  test("resyncs past garbage and rejects corrupt checksums") {
    val good = ensemble(7, 2, 4, (c, b) => c + b)
    val garbage = Array[Byte](0x12, 0x7f, 0x00, 0x33)
    val corrupt = good.clone(); corrupt(10) = (corrupt(10) ^ 0xff).toByte
    val rows = Pd0.decode(garbage ++ corrupt ++ good).toList
    assert(rows.map(_.ensemble).distinct == List(7))
    assert(rows.length == 2)
  }

  test("Spark binaryFile integration: file -> long-format DataFrame") {
    val dir = java.nio.file.Files.createTempDirectory("pd0").toFile
    val f = new java.io.File(dir, "deploy.pd0")
    val os = new java.io.FileOutputStream(f)
    (1 to 5).foreach(i => os.write(ensemble(i, 3, 4, (c, b) => i * 10 + c)))
    os.close()
    val df = Pd0.read(spark, f.getAbsolutePath)
    assert(df.count() == 15)
    assert(df.columns.contains("bindistM") && df.columns.contains("vel1"))
    val ens = df.select("ensemble").distinct().count()
    assert(ens == 5)
  }
}
