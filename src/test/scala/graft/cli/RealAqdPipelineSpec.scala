package graft.cli

import graft.SharedSpark
import graft.io.{Config, Hdf5}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Second real-artifact reproduction (after RealMetPipelineSpec): the
  * reference's PUBLISHED Aquadopp example configuration —
  * `examples/aqd_config.yaml` + `examples/glob_att1076a.txt` +
  * the REAL `examples/atmpres.cdf` — drives a full `clean` step, and
  * every config-driven behavior is checked against values computed
  * independently from the real files' bytes:
  *   - Deployment_date/Recovery_date clip (glob_att1076a.txt)
  *   - P_1ac = P_1 − atmpres − offset with atmpres + its `offset` attr
  *     read from the real netCDF-4 file (atmos.rst: "P_1ac = P_1 −
  *     atmos − offset")
  *   - magnetic_variation −1.88° velocity rotation (aqdutils
  *     magvar_correct)
  *   - trim_method 'water level sl' side-lobe bin masking
  *     (aqdutils.py:486-534) + the trailing all-null-bin drop.
  * Only the instrument samples are synthetic (the raw AQ107703 files are
  * not shipped in the reference); every parameter and the met series are
  * the reference's real artifacts. */
class RealAqdPipelineSpec extends AnyFunSuite with SharedSpark {

  private val gattsPath = "/root/reference/examples/glob_att1076a.txt"
  private val yamlPath = "/root/reference/examples/aqd_config.yaml"
  private val atmPath = "/root/reference/examples/atmpres.cdf"

  test("REAL aqd_config.yaml + glob_att1076a.txt + atmpres.cdf drive " +
       "clip, atmos offset, magvar and sidelobe trim through clean") {
    assume(Seq(gattsPath, yamlPath, atmPath)
      .forall(p => new java.io.File(p).isFile))
    import spark.implicits._

    val (meta0, _) = Config.merge(
      Config.readGlobalAttsFile(gattsPath), Config.readYamlFile(yamlPath))
    // the merged config IS the reference's published example — pin the
    // keys the clean step consumes
    assert(meta0.str("MOORING").contains("1076"))
    assert(meta0.dbl("WATER_DEPTH").contains(1.55))
    assert(meta0.dbl("magnetic_variation").contains(-1.88))
    assert(meta0.str("orientation").exists(_.equalsIgnoreCase("UP")))
    assert(meta0.str("trim_method").exists(_.equalsIgnoreCase("water level sl")))
    assert(meta0.dbl("initial_instrument_height").contains(0.15))
    assert(meta0.str("Deployment_date").contains("2016-08-04 15:41"))

    // real met series + offset attr, read straight from the file bytes
    val atmB = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(atmPath))
    val atm5 = Hdf5.open(atmB)
    val atmT = Hdf5.column(atmB, atm5.datasets.find(_.name == "time").get)
    val atmV = Hdf5.column(atmB, atm5.datasets.find(_.name == "atmpres").get)
    val offset = graft.io.Readers.netcdfVarAttrs(atmPath, "atmpres")("offset").toDouble
    val epochUs = java.time.Instant.parse("2016-08-01T06:00:00Z")
      .getEpochSecond * 1000000L
    val atmByUs = atmT.zip(atmV)
      .map { case (t, v) => (epochUs + t.toLong * 60000000L) -> v }.toMap

    // synthetic Aquadopp samples ON the real met time base (atmos.rst:
    // "the time base ... must be the same as that of the instrument
    // pressure record"): 300 ensembles x 3 bins from 2016-08-04 12:01 —
    // the first 15 ensembles precede the real Deployment_date
    val t0us = java.time.Instant.parse("2016-08-04T12:01:00Z")
      .getEpochSecond * 1000000L
    val bindists = Seq(0.3, 0.8, 1.3)
    val rows = for (k <- 0 until 300; b <- 0 until 3) yield (
      new java.sql.Timestamp((t0us + k * 15L * 60000000L) / 1000),
      b, bindists(b), 1.0, 0.0, 0.1, 0.93)
    assert(rows.forall(r => atmByUs.contains(r._1.getTime * 1000L)),
      "fixture times must hit real met samples exactly")
    val dir = java.nio.file.Files.createTempDirectory("real_aqd").toFile
    val raw = new java.io.File(dir, "raw").getAbsolutePath
    rows.toDF("time", "bin", "bindist", "u_1205", "v_1206", "w_1204", "P_1")
      .write.parquet(raw)

    // AQDTransMatrix present (ENU: transform is a documented no-op) so
    // the velocity chain runs exactly as a real deployment's would
    val meta = meta0 ++ Map[String, Any](
      "atmpres_file" -> atmPath,
      "AQDCoordinateSystem" -> "ENU",
      "AQDTransMatrix" -> "1,0,0,0,1,0,0,0,1",
      "AQDCellSize" -> 50.0) // cm -> bin_size 0.5 m
    val clean = new java.io.File(dir, "clean").getAbsolutePath
    RunOts.runStep(spark, "aqd", "clean", meta, raw, clean)
    val c = spark.read.parquet(clean).collect()

    // 1) clip: ensembles before 2016-08-04 15:41 dropped (15 of 300)
    val keptTimes = c.map(_.getAs[java.sql.Timestamp]("time")).distinct
    assert(keptTimes.length == 285, s"clip kept ${keptTimes.length} ensembles")
    val depUs = java.time.Instant.parse("2016-08-04T15:41:00Z")
      .getEpochSecond * 1000000L
    assert(keptTimes.forall(_.getTime * 1000L >= depUs))

    // independent per-ensemble expectations from the real met bytes
    def p1ac(us: Long): Double = 0.93 - atmByUs(us) - offset
    def cutoff(us: Long): Double = p1ac(us) * math.cos(math.toRadians(25.0))

    // 2) atmos: P_1ac = P_1 − atmpres − offset, bit-for-bit
    for (r <- c) {
      val us = r.getAs[java.sql.Timestamp]("time").getTime * 1000L
      assert(java.lang.Double.doubleToLongBits(r.getAs[Double]("P_1ac")) ==
        java.lang.Double.doubleToLongBits(p1ac(us)),
        s"P_1ac at $us: ${r.getAs[Double]("P_1ac")} vs ${p1ac(us)}")
    }

    // 3) magvar −1.88°: u' = u·cosθ + v·sinθ, v' = −u·sinθ + v·cosθ on
    //    every untrimmed bin
    val rad = math.toRadians(-1.88)
    val (uWant, vWant) = (math.cos(rad), -math.sin(rad))
    for (r <- c if !r.isNullAt(r.fieldIndex("u_1205"))) {
      assert(math.abs(r.getAs[Double]("u_1205") - uWant) < 1e-12)
      assert(math.abs(r.getAs[Double]("v_1206") - vWant) < 1e-12)
    }

    // 4) sidelobe trim: bin masked iff bindist >= P_1ac·cos(beam_angle);
    //    a bin all-null across time is dropped entirely (trailing trim)
    val keptUs = keptTimes.map(_.getTime * 1000L)
    for (b <- 0 until 3; want = bindists(b)) {
      val allTrimmed = keptUs.forall(us => want >= cutoff(us))
      val rowsB = c.filter(_.getAs[Double]("bindist") == want)
      if (allTrimmed)
        assert(rowsB.isEmpty, s"all-null bin $b (bindist $want) must be dropped")
      else {
        assert(rowsB.length == keptUs.length)
        for (r <- rowsB) {
          val us = r.getAs[java.sql.Timestamp]("time").getTime * 1000L
          val trimmed = want >= cutoff(us)
          assert(r.isNullAt(r.fieldIndex("u_1205")) == trimmed,
            s"bin $b at $us: trim mismatch (cutoff ${cutoff(us)})")
        }
      }
    }
    // the fixture must exercise BOTH behaviors: bin 0 always kept,
    // bin 2 always side-lobe-contaminated at this site depth
    assert(c.exists(_.getAs[Double]("bindist") == 0.3))
    assert(!c.exists(_.getAs[Double]("bindist") == 1.3),
      "bindist 1.3 should be side-lobe trimmed at ~1 m depth")
  }
}
