package graft.io

import graft.SharedSpark
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Real-artifact reproduction on the EXPORT side: the engine already
  * proves it READS the reference's netcdf-c files (Hdf5Spec,
  * RealMetPipelineSpec); this spec proves the engine's own
  * `netcdf_format: netcdf4` export emits the same structural grammar
  * netcdf-c wrote into the real gndcrmet.nc — dimension-scale wiring
  * (CLASS/_Netcdf4Dimid/REFERENCE_LIST on the coordinate,
  * DIMENSION_LIST on every data variable), the exact attribute
  * datatype byte-shapes (read from the REAL file, not hardcoded), and
  * bit-exact payload round-trip of the replayed met pipeline. */
class RealExportSpec extends AnyFunSuite with SharedSpark {

  private val csvPath = "/root/reference/examples/GNDCRMET.csv"
  private val ncPath = "/root/reference/examples/gndcrmet.nc"

  /** Attribute DATATYPE size from the raw attribute-message layout
    * (ver(1) res(1) nameSz(2) dtSz(2) dsSz(2) name...) — the same probe
    * Hdf5Spec uses, applied to an arbitrary file's bytes. */
  private def attrDtypeSize(b: Array[Byte], attrName: String): Int = {
    val s = new String(b.map(x => (x & 0x7f).toChar))
    val i = s.indexOf(attrName)
    assert(i > 4, s"$attrName not found")
    (b(i - 4) & 0xff) | ((b(i - 3) & 0xff) << 8)
  }

  test("engine netcdf4 export of the replayed met pipeline matches the " +
       "real gndcrmet.nc structural grammar and round-trips bit-exactly") {
    assume(new java.io.File(csvPath).isFile && new java.io.File(ncPath).isFile)
    import spark.implicits._
    // the met pipeline replay (scripts/aqd_make_press_ac.ipynb, as in
    // RealMetPipelineSpec): SWMP CSV -> UTC time + BP mb->dbar
    val lines = Files.readAllLines(Paths.get(csvPath))
      .toArray(Array.empty[String])
    val body = lines.drop(2).toSeq.toDS()
    val df = spark.read.option("header", "true").csv(body)
    val met = df.select(
        to_timestamp(col("DateTimeStamp"), "MM/dd/yyyy HH:mm").as("t0"),
        (col("BP").cast("double") / 100).as("BP"))
      .withColumn("time", col("t0") + expr("INTERVAL 6 HOURS"))
      .select("time", "BP")

    val dir = Files.createTempDirectory("real_export").toFile
    val pq = new java.io.File(dir, "metclean").getAbsolutePath
    val nc = new java.io.File(dir, "gndcrmet_export.nc").getAbsolutePath
    val meta = graft.core.Meta(Map[String, Any](
      "netcdf_format" -> "netcdf4",
      "Conventions" -> "CF-1.8", "title" -> "met export reproduction"))
    Sink.writeParquet(met, pq, meta, float32 = false)
    graft.cli.RunOts.runStep(spark, "met", "export", meta, pq, nc)

    val real = Files.readAllBytes(Paths.get(ncPath))
    val ours = Files.readAllBytes(Paths.get(nc))

    // ---- grammar: netcdf-4 dimension wiring, shapes read from the REAL
    // file so the assertion tracks netcdf-c, not our own constants ------
    assert(attrDtypeSize(ours, "REFERENCE_LIST") ==
      attrDtypeSize(real, "REFERENCE_LIST"),
      "REFERENCE_LIST compound datatype byte-shape")
    assert(attrDtypeSize(ours, "DIMENSION_LIST") ==
      attrDtypeSize(real, "DIMENSION_LIST"),
      "DIMENSION_LIST vlen-of-objref datatype byte-shape")

    val realH5 = Hdf5.open(real)
    val h5 = Hdf5.open(ours)
    val byName = h5.datasets.map(d => d.name -> d).toMap
    assert(byName.keySet == Set("time", "BP"), byName.keySet.toString)
    // the coordinate carries the same dimension-scale attribute grammar
    // netcdf-c gave the real file's time variable
    val realTime = realH5.datasets.find(_.name == "time").get
    val time = byName("time")
    for (a <- Seq("CLASS", "_Netcdf4Dimid"))
      assert(time.attrs.contains(a) && realTime.attrs.contains(a), a)
    assert(time.attrs("CLASS") == realTime.attrs("CLASS")) // DIMENSION_SCALE
    assert(time.attrs("_Netcdf4Dimid") == "0")
    assert(time.attrs("units") == "seconds since 1970-01-01T00:00:00Z")
    // global attrs land as root attributes like the real file's
    assert(h5.attrs("Conventions") == "CF-1.8")
    assert(realH5.attrs.contains("_NCProperties")) // provenance: netcdf-c

    // ---- payload: our export re-read equals the real file's data ------
    assert(time.n == realTime.n, s"rows ${time.n} vs ${realTime.n}")
    val ourTime = Hdf5.column(ours, time) // CF seconds since epoch
    val realT = Hdf5.column(real, realTime) // minutes since 2016-08-01 06:00
    val epochS = java.time.Instant.parse("2016-08-01T06:00:00Z").getEpochSecond
    val ourBp = Hdf5.column(ours, byName("BP"))
    val realBp = Hdf5.column(real, realH5.datasets.find(_.name == "BP").get)
    var i = 0
    while (i < time.n) {
      assert(ourTime(i) == (epochS + realT(i).toLong * 60).toDouble, s"time[$i]")
      assert(java.lang.Double.doubleToLongBits(ourBp(i)) ==
        java.lang.Double.doubleToLongBits(realBp(i)), s"BP[$i]")
      i += 1
    }
    // and the engine re-opens its own product through the DataFrame path
    val back = Readers.readNetcdf(spark, nc)
    assert(back.count() == time.n)
    assert(back.columns.contains("BP"))
  }
}
