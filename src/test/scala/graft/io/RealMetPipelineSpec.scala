package graft.io

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end reproduction of a PUBLISHED reference artifact from its
  * raw source: the reference's example workflow
  * (scripts/aqd_make_press_ac.ipynb) reads the NERR SWMP met export
  * GNDCRMET.csv (pandas header=2, DateTimeStamp + 6 h to UTC-naive),
  * keeps BP, divides by 100 (mb → dbar) and writes gndcrmet.nc. This
  * spec replays that pipeline in Spark off the REAL 2 MB CSV and
  * compares against the REAL netcdf-c-written gndcrmet.nc — every
  * timestamp and every BP value bit-for-bit. */
class RealMetPipelineSpec extends AnyFunSuite with SharedSpark {

  private val csvPath = "/root/reference/examples/GNDCRMET.csv"
  private val ncPath = "/root/reference/examples/gndcrmet.nc"

  test("Spark replay of the met workflow reproduces gndcrmet.nc bit-for-bit") {
    assume(new java.io.File(csvPath).isFile && new java.io.File(ncPath).isFile)
    import spark.implicits._
    // the SWMP export: banner line, units line, quoted header, data rows
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(csvPath)).toArray(Array.empty[String])
    val body = lines.drop(2).toSeq.toDS()
    val df = spark.read.option("header", "true").csv(body)
    val got = df.select(
        to_timestamp(col("DateTimeStamp"), "MM/dd/yyyy HH:mm").as("t0"),
        (col("BP").cast("double") / 100).as("bp"))
      .withColumn("t", col("t0") + expr("INTERVAL 6 HOURS"))
      .select(unix_micros(col("t")).as("us"), col("bp"))
      .orderBy("us").collect()

    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(ncPath))
    val h5 = Hdf5.open(bytes)
    val timeDs = h5.datasets.find(_.name == "time").get
    val bpDs = h5.datasets.find(_.name == "BP").get
    val ncTime = Hdf5.column(bytes, timeDs) // minutes since 2016-08-01 06:00
    val ncBp = Hdf5.column(bytes, bpDs)
    assert(got.length == ncTime.length,
      s"row count ${got.length} vs nc ${ncTime.length}")
    val epochUs = java.time.Instant.parse("2016-08-01T06:00:00Z")
      .getEpochSecond * 1000000L
    var i = 0
    while (i < got.length) {
      val wantUs = epochUs + ncTime(i).toLong * 60000000L
      assert(got(i).getLong(0) == wantUs, s"time[$i]")
      val gb = if (got(i).isNullAt(1)) Double.NaN else got(i).getDouble(1)
      assert(java.lang.Double.doubleToLongBits(gb) ==
        java.lang.Double.doubleToLongBits(ncBp(i)),
        s"BP[$i]: $gb vs ${ncBp(i)}")
      i += 1
    }
  }

  test("Align.asofNearest reproduces the reference's atmpres.cdf values exactly") {
    val atmPath = "/root/reference/examples/atmpres.cdf"
    assume(new java.io.File(ncPath).isFile && new java.io.File(atmPath).isFile)
    import spark.implicits._
    // met series (time minutes, BP dbar) from the real gndcrmet.nc
    val metB = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(ncPath))
    val met5 = Hdf5.open(metB)
    val metT = Hdf5.column(metB, met5.datasets.find(_.name == "time").get)
    val metBp = Hdf5.column(metB, met5.datasets.find(_.name == "BP").get)
    // the reference's atmpres.cdf: BP reindexed nearest onto the Aquadopp
    // time base (scripts/aqd_make_press_ac.ipynb cell 2)
    val atmB = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(atmPath))
    val atm5 = Hdf5.open(atmB)
    val atmT = Hdf5.column(atmB, atm5.datasets.find(_.name == "time").get)
    val atmV = Hdf5.column(atmB, atm5.datasets.find(_.name == "atmpres").get)

    val left = atmT.zipWithIndex.map { case (t, i) => (i.toLong, t.toLong) }
      .toSeq.toDF("idx", "lmin")
    val right = metT.zip(metBp).map { case (t, v) => (t.toLong, v) }
      .toSeq.toDF("rmin", "bp")
    val joined = graft.ops.Align.asofNearest(left, right, "lmin", "rmin",
        tolerance = 100000L)
      .orderBy("idx").collect()
    assert(joined.length == atmT.length)
    for (r <- joined) {
      val i = r.getAs[Long]("idx").toInt
      val got = r.getAs[Double]("bp")
      assert(java.lang.Double.doubleToLongBits(got) ==
        java.lang.Double.doubleToLongBits(atmV(i)),
        s"atmpres[$i] at minute ${atmT(i)}: $got vs ${atmV(i)}")
    }
  }

}
