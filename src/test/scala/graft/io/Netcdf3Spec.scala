package graft.io

import graft.SharedSpark
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

class Netcdf3Spec extends AnyFunSuite with SharedSpark {

  test("write + read round trip with attrs, nulls and mixed types") {
    import spark.implicits._
    val df = Seq(
      (0.0, 10.5f, 1, Option(5.0)),
      (1.0, 11.5f, 2, None),
      (2.0, 12.5f, 3, Option(7.25)))
      .toDF("time", "P_1", "sample", "T_28")
      .selectExpr("time", "P_1", "sample", "T_28")
    val path = Files.createTempDirectory("nc3").resolve("out.nc").toString
    val n = Netcdf3.write(df, path,
      attrs = Seq("Conventions" -> "CF-1.8", "title" -> "graft test"),
      varAttrs = Map(
        "time" -> Seq("units" -> "seconds since 2024-01-01"),
        "P_1" -> Seq("units" -> "dbar", "long_name" -> "pressure")))
    assert(n == 3)
    val nc = Netcdf3.read(Files.readAllBytes(Paths.get(path)))
    assert(nc.numrecs == 3)
    assert(nc.dims == Seq("time" -> 0)) // unlimited
    assert(nc.attrs("Conventions") == "CF-1.8")
    assert(nc.vars.map(_.name) == Seq("time", "P_1", "sample", "T_28"))
    assert(nc.vars(1).attrs("units") == "dbar")
    assert(nc.column("time").toSeq == Seq(0.0, 1.0, 2.0))
    assert(nc.column("P_1").toSeq == Seq(10.5, 11.5, 12.5))
    assert(nc.column("sample").toSeq == Seq(1.0, 2.0, 3.0))
    val t28 = nc.column("T_28")
    assert(t28(0) == 5.0 && t28(1).isNaN && t28(2) == 7.25)
  }

  test("CDF-5: round trip with 64-bit fields and native NC_INT64") {
    import spark.implicits._
    val df = Seq(
      (0.0, 10.5f, 5_000_000_000L, Option(5.0)),
      (1.0, 11.5f, -3L, None),
      (2.0, 12.5f, 9_007_199_254_740_993L, Option(7.25))) // > 2^53: doubles can't hold it
      .toDF("time", "P_1", "sample64", "T_28")
    val path = Files.createTempDirectory("nc5").resolve("out.nc").toString
    val n = Netcdf3.write(df, path,
      attrs = Seq("Conventions" -> "CF-1.8"),
      varAttrs = Map("P_1" -> Seq("units" -> "dbar")),
      version = 5)
    assert(n == 3)
    val b = Files.readAllBytes(Paths.get(path))
    assert(b(0) == 'C' && b(1) == 'D' && b(2) == 'F' && b(3) == 5)
    val nc = Netcdf3.read(b)
    assert(nc.header.version == 5 && nc.numrecs == 3)
    assert(nc.attrs("Conventions") == "CF-1.8")
    assert(nc.vars(1).attrs("units") == "dbar")
    assert(nc.vars(2).ncType == 10) // NC_INT64, not a lossy double
    assert(nc.column("time").toSeq == Seq(0.0, 1.0, 2.0))
    assert(nc.column("P_1").toSeq == Seq(10.5, 11.5, 12.5))
    // int64 exactness: read the raw longs back via the seek reader
    val h = Netcdf3.open(path)
    val raf = new java.io.RandomAccessFile(path, "r")
    val v = h.vars.find(_.name == "sample64").get
    val longs = (0 until 3).map { r =>
      raf.seek(v.begin + r.toLong * h.recSize); raf.readLong() }
    raf.close()
    assert(longs == Seq(5_000_000_000L, -3L, 9_007_199_254_740_993L))
  }

  test("CDF-5: begin offsets past 2^31 round-trip (sparse header pad)") {
    import spark.implicits._
    val df = Seq((0.0, 1.5), (1.0, 2.5), (2.0, 3.5)).toDF("time", "P_1")
    val dir = Files.createTempDirectory("nc5big")
    val path = dir.resolve("big.nc").toString
    val pad = 3_000_000_000L // data starts past the 32-bit offset horizon
    Netcdf3.write(df, path, version = 5, headerPad = pad)
    assert(new java.io.File(path).length() > pad) // sparse: a hole, not bytes
    val h = Netcdf3.open(path) // bounded prefix read — never loads the 3 GB
    assert(h.vars.forall(_.begin > Int.MaxValue.toLong))
    assert(h.numrecs == 3)
    assert(Netcdf3.columnAt(path, h, "time").toSeq == Seq(0.0, 1.0, 2.0))
    assert(Netcdf3.columnAt(path, h, "P_1").toSeq == Seq(1.5, 2.5, 3.5))
    // CDF-1 must refuse what it cannot address, not write a corrupt header
    val e = intercept[IllegalArgumentException] {
      Netcdf3.write(df, dir.resolve("bad.nc").toString, version = 1, headerPad = pad)
    }
    assert(e.getMessage.contains("version = 2 or 5"))
    Files.deleteIfExists(Paths.get(path))
  }

  test("CDF-2: 64-bit begin offsets, 32-bit sizes — round trip past 2^31") {
    import spark.implicits._
    val df = Seq((0.0, 1.5f, 7), (1.0, 2.5f, 8), (2.0, 3.5f, 9))
      .toDF("time", "P_1", "sample")
    val dir = Files.createTempDirectory("nc2")
    val path = dir.resolve("off64.nc").toString
    val pad = 3_000_000_000L
    Netcdf3.write(df, path,
      attrs = Seq("Conventions" -> "CF-1.8"),
      varAttrs = Map("P_1" -> Seq("units" -> "dbar")),
      version = 2, headerPad = pad)
    val head = new Array[Byte](4)
    val in = new java.io.FileInputStream(path)
    in.read(head); in.close()
    assert(head(0) == 'C' && head(1) == 'D' && head(2) == 'F' && head(3) == 2)
    val h = Netcdf3.open(path)
    assert(h.version == 2 && h.numrecs == 3)
    assert(h.attrs("Conventions") == "CF-1.8")
    assert(h.vars.forall(_.begin > Int.MaxValue.toLong)) // the point of CDF-2
    assert(Netcdf3.columnAt(path, h, "time").toSeq == Seq(0.0, 1.0, 2.0))
    assert(Netcdf3.columnAt(path, h, "P_1").toSeq == Seq(1.5, 2.5, 3.5))
    assert(Netcdf3.columnAt(path, h, "sample").toSeq == Seq(7.0, 8.0, 9.0))
    // small CDF-2 reads through the in-memory path too
    val small = dir.resolve("small.nc").toString
    Netcdf3.write(df, small, version = 2)
    val nc = Netcdf3.read(Files.readAllBytes(Paths.get(small)))
    assert(nc.header.version == 2)
    assert(nc.column("P_1").toSeq == Seq(1.5, 2.5, 3.5))
    Files.deleteIfExists(Paths.get(path))
  }

  /** Hand-encoded per the public classic grammar (NOT via our writer) so
    * the reader's stride arithmetic is checked against an independent
    * byte layout: short/byte/char external sizes (2/1/1), per-variable
    * record-slab padding to 4 bytes, and a numeric NC_SHORT _FillValue
    * attribute. */
  test("classic fixture: exact short/byte widths, slab padding, numeric attrs") {
    def enc(begin0: Int, withData: Boolean): Array[Byte] = {
      val bo = new java.io.ByteArrayOutputStream()
      val o = new java.io.DataOutputStream(bo)
      def name(s: String): Unit = {
        val b = s.getBytes("UTF-8"); o.writeInt(b.length); o.write(b)
        (0 until (4 - b.length % 4) % 4).foreach(_ => o.writeByte(0))
      }
      o.writeBytes("CDF"); o.writeByte(1)
      o.writeInt(2) // numrecs
      o.writeInt(0x0a); o.writeInt(1); name("time"); o.writeInt(0) // unlimited
      o.writeInt(0); o.writeInt(0)  // no global attrs
      o.writeInt(0x0b); o.writeInt(5)
      var begin = begin0
      def v(nm: String, t: Int, vsize: Int, fill: Option[Short]): Unit = {
        name(nm); o.writeInt(1); o.writeInt(0) // 1 dim: time
        fill match {
          case Some(f) =>
            o.writeInt(0x0c); o.writeInt(1)
            name("_FillValue"); o.writeInt(3); o.writeInt(1)
            o.writeShort(f); o.writeShort(0) // one NC_SHORT value + pad
          case None => o.writeInt(0); o.writeInt(0)
        }
        o.writeInt(t); o.writeInt(vsize); o.writeInt(begin); begin += vsize
      }
      v("s", 3, 4, Some(-999)) // NC_SHORT: 2 bytes + 2 pad
      v("b", 1, 4, None)       // NC_BYTE: 1 byte + 3 pad
      v("c", 2, 4, None)       // NC_CHAR: 1 byte + 3 pad
      v("i", 4, 4, None)       // NC_INT: 4 bytes
      v("d", 6, 8, None)       // NC_DOUBLE: 8 bytes
      if (withData) {
        for (r <- 0 until 2) {
          o.writeShort(if (r == 0) 100 else -999); o.writeShort(0)
          o.writeByte(if (r == 0) -5 else 3); o.write(Array[Byte](0, 0, 0))
          o.writeByte('x'); o.write(Array[Byte](0, 0, 0))
          o.writeInt(7 + r)
          o.writeDouble(1.5 + r)
        }
      }
      bo.toByteArray
    }
    val headerLen = enc(0, withData = false).length
    val nc = Netcdf3.read(enc(headerLen, withData = true))
    assert(nc.recSize == 24) // 4 + 4 + 4 + 4 + 8, each slab 4-padded
    assert(nc.vars.find(_.name == "s").get.attrs("_FillValue") == "-999")
    assert(nc.column("s").toSeq == Seq(100.0, -999.0))
    assert(nc.column("b").toSeq == Seq(-5.0, 3.0))
    assert(nc.column("i").toSeq == Seq(7.0, 8.0))
    assert(nc.column("d").toSeq == Seq(1.5, 2.5))
    val e = intercept[IllegalArgumentException] { nc.column("c") }
    assert(e.getMessage.contains("NC_CHAR"))
  }

  /** The grammar's special case: exactly ONE record variable of a
    * 1/2-byte type packs its records with NO inter-record padding. */
  test("classic fixture: single short record variable packs unpadded") {
    val bo = new java.io.ByteArrayOutputStream()
    val o = new java.io.DataOutputStream(bo)
    def name(s: String): Unit = {
      val b = s.getBytes("UTF-8"); o.writeInt(b.length); o.write(b)
      (0 until (4 - b.length % 4) % 4).foreach(_ => o.writeByte(0))
    }
    def header(begin: Int): Unit = {
      bo.reset()
      o.writeBytes("CDF"); o.writeByte(1)
      o.writeInt(3)
      o.writeInt(0x0a); o.writeInt(1); name("time"); o.writeInt(0)
      o.writeInt(0); o.writeInt(0)
      o.writeInt(0x0b); o.writeInt(1)
      name("s"); o.writeInt(1); o.writeInt(0)
      o.writeInt(0); o.writeInt(0)
      o.writeInt(3); o.writeInt(2); o.writeInt(begin) // vsize 2: unpadded
    }
    header(0)
    val hl = bo.toByteArray.length
    header(hl)
    Seq[Short](1, 2, 3).foreach(o.writeShort(_))
    val nc = Netcdf3.read(bo.toByteArray)
    assert(nc.recSize == 2) // the special case: stride 2, not 4
    assert(nc.column("s").toSeq == Seq(1.0, 2.0, 3.0))
  }

  test("append extends the unlimited dimension in place (CDF-1, 2 and 5)") {
    import spark.implicits._
    for (version <- Seq(1, 2, 5)) {
      val df1 = Seq((0.0, 10.5f, 7), (1.0, 11.5f, 8))
        .toDF("time", "P_1", "sample")
      val df2 = Seq((2.0, Option(12.5f), 9), (3.0, Option.empty[Float], 10),
        (4.0, Option(14.5f), 11))
        .toDF("time", "P_1", "sample")
      val path = Files.createTempDirectory("nc3app")
        .resolve(s"v$version.nc").toString
      assert(Netcdf3.write(df1, path,
        attrs = Seq("title" -> "append test"), version = version) == 2)
      val before = Files.size(Paths.get(path))
      assert(Netcdf3.append(df2, path) == 5)
      // O(new records): exactly 3 records' bytes were added
      assert(Files.size(Paths.get(path)) == before + 3 * (8 + 4 + 4),
        s"v$version grew by ${Files.size(Paths.get(path)) - before}")
      val nc = Netcdf3.read(Files.readAllBytes(Paths.get(path)))
      assert(nc.numrecs == 5 && nc.attrs("title") == "append test")
      assert(nc.column("time").toSeq == Seq(0.0, 1.0, 2.0, 3.0, 4.0))
      assert(nc.column("sample").toSeq == Seq(7.0, 8.0, 9.0, 10.0, 11.0))
      val p1 = nc.column("P_1")
      assert(p1.take(3).toSeq == Seq(10.5, 11.5, 12.5) && p1(4) == 14.5)
      assert(p1(3).isNaN) // appended null streams as the NaN fill
      // appending a mismatched schema must fail loudly, file untouched
      val badCols = intercept[IllegalArgumentException] {
        Netcdf3.append(Seq((5.0, 1)).toDF("time", "sample"), path)
      }
      assert(badCols.getMessage.contains("match the file's variables"))
      val badType = intercept[IllegalArgumentException] {
        Netcdf3.append(Seq((5.0, 1.0, 1)).toDF("time", "P_1", "sample"), path)
      }
      assert(badType.getMessage.contains("nc_type"))
      assert(Netcdf3.read(Files.readAllBytes(Paths.get(path))).numrecs == 5)
    }
  }

  test("header layout: known magic and classic tags at fixed offsets") {
    import spark.implicits._
    val df = Seq((0.0, 1.0)).toDF("time", "v")
    val path = Files.createTempDirectory("nc3").resolve("hdr.nc").toString
    Netcdf3.write(df, path)
    val b = Files.readAllBytes(Paths.get(path))
    assert(b(0) == 'C' && b(1) == 'D' && b(2) == 'F' && b(3) == 1)
    // numrecs patched to 1
    assert(((b(4) & 0xff) << 24 | (b(5) & 0xff) << 16 |
      (b(6) & 0xff) << 8 | (b(7) & 0xff)) == 1)
    // NC_DIMENSION tag follows
    assert(b(11) == 0x0a)
  }
}
