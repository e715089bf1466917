package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Deployment-shaped synthetic fixtures + step invocations for every
 * per-family CLI chain, shared by [[ChainScale]] (x1/x10/x100 timing
 * curves) and [[FuzzChains]] (adversarial robustness gate). Deployment
 * LENGTH scales with the multiplier (time-series rows); per-burst/per-ping
 * shapes stay constant, mirroring how a real deployment grows. All
 * generation is distributed (spark.range + column exprs), no driver-side
 * row loops.
 */
object ChainFixtures {
  import graft.core.Meta
  import graft.cli.RunOts

  val T0 = 1706745600000000L // 2024-02-01T00:00:00Z in micros

  val nortekT = "1.5774,-0.7891,-0.7891,0.0,-2.4204,2.4204," +
    "0.3677,0.3677,0.3677"

  /** One CLI chain: `gen` writes the input fixture(s) at size multiplier m
    * (and runs any upstream step whose OUTPUT this chain consumes),
    * `mainInput` names the fixture a fuzzer may mutate, `run` executes
    * the chain step under test. */
  final case class ChainCase(
      label: String,
      gen: (SparkSession, Double, String => String) => Unit,
      mainInput: String,
      run: (SparkSession, String => String) => Unit)

  private def n(base: Long, m: Double): Long = math.max((base * m).toLong, 1L)

  private def rng(spark: SparkSession, cnt: Long) =
    spark.range(cnt).withColumn("__stepus", col("id"))

  // ---- per-family fixture writers ------------------------------------

  private def genIq(spark: SparkSession, m: Double, p: String => String): Unit = {
    val iqN = n(100000L, m)
    rng(spark, iqN).select(
        expr(s"timestamp_micros(${T0}L + id * 1000000)").as("time"),
        (lit(1.5) + (col("id") % 100) * 0.01).as("Pressure"),
        array(lit(0.1), lit(0.2), lit(0.3), lit(0.4)).as("SNR"))
      .write.mode("overwrite").parquet(p("iqraw"))
    spark.range(iqN)
      .select(col("id"), explode(sequence(lit(0), lit(1))).as("beam"))
      .select(col("id"), col("beam"),
        explode(sequence(lit(0), lit(2))).as("bin"))
      .select(
        expr(s"timestamp_micros(${T0}L + id * 1000000)").as("time"),
        col("beam"), col("bin"),
        (lit(0.4) + col("bin") * 0.1).as("bindist"),
        (lit(5.0) + col("bin") + (col("id") % 7) * 0.01).as("Vel"))
      .write.mode("overwrite").parquet(p("iqraw_profiles"))
  }

  private def genAbss(spark: SparkSession, m: Double, p: String => String): Unit = {
    val abN = n(20000L, m)
    spark.range(abN)
      .select(col("id"), explode(sequence(lit(0), lit(2))).as("bin"))
      .select(
        expr(s"timestamp_micros(${T0}L + id * 600000000)").as("time"),
        col("id").as("burst_number"), lit(1.0e6).as("xdcr_freq"),
        col("bin"), (lit(0.3) + col("bin") * 0.1).as("bindist"),
        lit(0).as("sample"),
        (lit(0.5) + col("bin") * 0.01 + (col("id") % 11) * 0.001).as("abs"))
      .write.mode("overwrite").parquet(p("abraw"))
    spark.range(abN)
      .select(col("id"), explode(sequence(lit(0), lit(1))).as("aux_sample"))
      .select(
        expr(s"timestamp_micros(${T0}L + id * 600000000)").as("time"),
        col("aux_sample"),
        (lit(10.0) + (col("id") % 13) * 0.01).as("Pressure"))
      .write.mode("overwrite").parquet(p("abraw_aux"))
  }

  private def genEofe(spark: SparkSession, m: Double, p: String => String): Unit = {
    val eaB = n(20000L, m); val eaS = 8
    spark.range(eaB)
      .select(col("id").as("burst"),
        explode(sequence(lit(0), lit(eaS - 1))).as("sample"))
      .select(
        expr(s"timestamp_micros(${T0}L + (burst * 60 + sample) * 1000000)")
          .as("time"),
        col("burst"), col("sample"),
        (lit(0.2) + col("sample") * 0.01).as("pitchDeg"),
        (lit(2.0) + (col("burst") % 17) * 0.01).as("altitudeM"),
        (lit(150.0) + col("sample")).as("counts"),
        (lit(15.0) + (col("burst") % 9) * 0.1).as("temperatureC"),
        lit(0.5).as("amplitudeFS"))
      .write.mode("overwrite").parquet(p("earaw"))
    spark.range(eaB)
      .select(col("id").as("burst"),
        explode(sequence(lit(0), lit(eaS - 1))).as("sample"))
      .select(col("burst"), col("sample"),
        explode(sequence(lit(0), lit(9))).as("bin"))
      .select(
        expr(s"timestamp_micros(${T0}L + (burst * 60 + sample) * 1000000)")
          .as("time"),
        col("burst"), col("sample"), col("bin"),
        (lit(100.0) + col("bin")).as("counts"))
      .write.mode("overwrite").parquet(p("earaw_profiles"))
  }

  private def genLisst(spark: SparkSession, m: Double, p: String => String): Unit = {
    val liB = n(20000L, m); val liS = 8
    val liSpine = spark.range(liB)
      .select(col("id").as("b"),
        explode(sequence(lit(0), lit(liS - 1))).as("s"))
      .select((col("b") * 600 + col("s")).as("sec"))
    liSpine.select(
        expr(s"timestamp_micros(${T0}L + sec * 1000000)").as("time"),
        (lit(2.0) + (col("sec") % 101) * 0.01).as("depth"))
      .write.mode("overwrite").parquet(p("liraw"))
    liSpine.select(col("sec"),
        explode(sequence(lit(1), lit(8))).as("ring"))
      .select(
        expr(s"timestamp_micros(${T0}L + sec * 1000000)").as("time"),
        col("ring"), (col("ring") * 0.5).as("vc"))
      .write.mode("overwrite").parquet(p("liraw_vc"))
  }

  private def genMet(spark: SparkSession, m: Double, p: String => String): Unit =
    rng(spark, n(500000L, m)).select(
        expr(s"timestamp_micros(${T0}L + id * 600000000)").as("time"),
        (lit(350.0) - (col("id") % 360)).as("WindDir_avg"),
        (lit(5.0) + (col("id") % 19) * 0.1).as("WindSpeed_avg"),
        (lit(12.0) + (col("id") % 7) * 0.1).as("Temp"))
      .write.mode("overwrite").parquet(p("metraw"))

  private def genRdi(spark: SparkSession, m: Double, p: String => String): Unit =
    spark.range(n(200000L, m))
      .select(col("id"), explode(sequence(lit(0), lit(2))).as("bin"))
      .select(
        expr(s"timestamp_micros(${T0}L + id * 1000000)").as("time"),
        col("bin"), (lit(0.5) + col("bin") * 0.25).as("bindistM"),
        (lit(90.0) + col("bin")).as("cor1"),
        (lit(120.0) + col("bin")).as("AGC1"))
      .write.mode("overwrite").parquet(p("rdiraw"))

  /** 1 Hz pressure series shared by rsk/clean and rsk/waves (waves
    * reshapes 512-sample bursts). */
  private def genCom(spark: SparkSession, m: Double, p: String => String): Unit =
    rng(spark, n(1000000L, m)).select(
        expr(s"timestamp_micros(${T0}L + id * 1000000)").as("time"),
        (lit(10.0) + sin(col("id") * 0.3) * 0.4).as("P_1"),
        (cos(col("id") * 0.3) * 0.1).as("u"),
        (sin(col("id") * 0.31) * 0.1).as("v"))
      .write.mode("overwrite").parquet(p("comraw"))

  private def genDw(spark: SparkSession, m: Double, p: String => String): Unit =
    rng(spark, n(128000L, m)).select(
        expr(s"timestamp_micros(${T0}L + id * 1000000)").as("time"),
        (lit(10.0) + sin(col("id") * 0.098175) * 0.4).as("P_1"),
        (cos(col("id") * 0.098175) * 0.1).as("u"),
        (sin(col("id") * 0.098175) * 0.02).as("v"))
      .write.mode("overwrite").parquet(p("dwraw"))

  private def genSig(spark: SparkSession, m: Double, p: String => String): Unit =
    rng(spark, n(500000L, m)).select(
        expr(s"timestamp_micros(${T0}L + id * 1000000)").as("time"),
        (lit(0.1) + (col("id") % 50) * 0.001).as("VelEast"),
        lit(0.05).as("VelNorth"), lit(0.02).as("VelUp1"),
        (lit(90.0) + col("id") % 5).as("Heading"),
        (lit(10.0) + (col("id") % 31) * 0.01).as("P_1"),
        lit(80.0).as("AmpBeam1"), lit(81.0).as("AmpBeam2"),
        lit(82.0).as("AmpBeam3"), lit(83.0).as("AmpBeam4"),
        lit(70.0).as("CorBeam1"), lit(71.0).as("CorBeam2"),
        lit(72.0).as("CorBeam3"), lit(73.0).as("CorBeam4"),
        (lit(90.0) - col("id") % 7).as("ast_quality"),
        (lit(3.0) + (col("id") % 23) * 0.01).as("brangeAST"))
      .write.mode("overwrite").parquet(p("sigraw"))

  /** Signature velocity profiles, U/V/W1/W2 at 1 Hz: 3 bins per time step. */
  private def genSigBins(spark: SparkSession, m: Double, p: String => String): Unit =
    spark.range(n(4096L, m))
      .select(col("id"), explode(sequence(lit(0), lit(2))).as("bin"))
      .select(
        expr(s"timestamp_micros(${T0}L + id * 1000000)").as("time"), col("bin"),
        (lit(0.1) + sin(col("id") * 0.3 + col("bin")) * 0.05).as("VelEast"),
        (lit(0.05) + cos(col("id") * 0.05) * 0.02 + col("bin") * 0.01).as("VelNorth"),
        (sin(col("id") * 0.7) * 0.01 + (col("id") % 13) * 0.001).as("VelUp1"),
        (cos(col("id") * 0.9) * 0.01).as("VelUp2"),
        (lit(90.0) + col("id") % 5).as("Heading"))
      .write.mode("overwrite").parquet(p("sigbinraw"))

  /** Signature velocity bursts, U/V/W1/W2 at 2 Hz: 512 samples an hour. */
  private def genSigBursts(spark: SparkSession, m: Double, p: String => String): Unit =
    spark.range(n(16L, m))
      .select(col("id").as("burst"), explode(sequence(lit(0), lit(511))).as("sample"))
      .withColumn("i", col("burst") * 512 + col("sample"))
      .select(
        expr(s"timestamp_micros(${T0}L + burst * 3600000000)").as("time"),
        col("sample"),
        (lit(0.1) + sin(col("i") * 0.3) * 0.05 + col("burst") * 0.001).as("VelEast"),
        (lit(0.05) + cos(col("i") * 0.05) * 0.02).as("VelNorth"),
        (sin(col("i") * 0.7) * 0.01 + (col("i") % 13) * 0.001).as("VelUp1"),
        (cos(col("i") * 0.9) * 0.01).as("VelUp2"),
        (lit(90.0) + col("burst") % 5).as("Heading"))
      .write.mode("overwrite").parquet(p("sigburstraw"))

  private def genVec(spark: SparkSession, m: Double, p: String => String): Unit =
    rng(spark, n(500000L, m)).select(
        expr(s"timestamp_micros(${T0}L + id * 1000000)").as("time"),
        lit(0.1).as("vel1"), lit(0.2).as("vel2"), lit(0.3).as("vel3"),
        lit(20.0).as("snr1"), lit(21.0).as("snr2"), lit(22.0).as("snr3"),
        lit(80.0).as("cor1"), lit(81.0).as("cor2"), lit(82.0).as("cor3"),
        (lit(45.0) + col("id") % 3).as("heading"),
        lit(0.5).as("pitch"), lit(-0.5).as("roll"),
        (lit(1000.0) + col("id") % 100).as("AnalogInput1"))
      .write.mode("overwrite").parquet(p("vecraw"))

  private def genAqd(spark: SparkSession, m: Double, p: String => String): Unit =
    spark.range(n(100000L, m))
      .select(col("id"), explode(sequence(lit(0), lit(2))).as("bin"))
      .select(
        expr(s"timestamp_micros(${T0}L + id * 1000000)").as("time"),
        col("bin"), (lit(0.225) + col("bin") * 0.25).as("bindist"),
        lit(0.1).as("VEL1"), lit(0.2).as("VEL2"), lit(0.3).as("VEL3"),
        lit(120.0).as("amp1"), lit(130.0).as("amp2"), lit(140.0).as("amp3"),
        lit(80.0).as("cor1"), lit(80.0).as("cor2"), lit(80.0).as("cor3"),
        lit(90.0).as("heading"), lit(0.0).as("pitch"), lit(0.0).as("roll"),
        (lit(10.0) + (col("id") % 13) * 0.01).as("P_1"))
      .write.mode("overwrite").parquet(p("aqdraw"))

  private def genExo(spark: SparkSession, m: Double, p: String => String): Unit =
    rng(spark, n(500000L, m)).select(
        expr(s"timestamp_micros(${T0}L + id * 60000000)").as("time"),
        (lit(12.0) + (col("id") % 29) * 0.01).as("press_dbar"),
        (lit(20.0) + col("id") % 40).as("turbidity_ntu"),
        lit(48012.2).as("spcond_µs_per_cm"),
        lit(30.1).as("sal_psu"),
        (lit(21.3) + (col("id") % 11) * 0.01).as("temp_°c"))
      .write.mode("overwrite").parquet(p("exoraw"))

  /** exo with turbidity cycling through values exactly at and just beyond
    * each of `Turb_min` 25 and `Turb_max` 55, so an off-by-one in either
    * trim changes the product. */
  private def genExoEdges(spark: SparkSession, m: Double, p: String => String): Unit =
    rng(spark, n(20000L, m)).select(
        expr(s"timestamp_micros(${T0}L + id * 60000000)").as("time"),
        (lit(12.0) + (col("id") % 29) * 0.01).as("press_dbar"),
        element_at(array(Seq(24.99, 25.0, 40.0, 55.0, 55.01).map(lit): _*),
          (col("id") % 5 + 1).cast("int")).as("turbidity_ntu"),
        lit(48012.2).as("spcond_µs_per_cm"),
        lit(30.1).as("sal_psu"),
        (lit(21.3) + (col("id") % 11) * 0.01).as("temp_°c"))
      .write.mode("overwrite").parquet(p("exoraw"))

  private def genHobo(spark: SparkSession, m: Double, p: String => String): Unit =
    rng(spark, n(500000L, m)).select(
        expr(s"timestamp_micros(${T0}L + id * 1000000)").as("time"),
        (lit(11.0) + sin(col("id") * 0.01) * 0.2).as("P_1"),
        (lit(15.0) + (col("id") % 9) * 0.01).as("T_28"))
      .write.mode("overwrite").parquet(p("hoboraw"))

  private def genGlx(spark: SparkSession, m: Double, p: String => String): Unit =
    rng(spark, n(200000L, m)).select(
        expr(s"timestamp_micros(${T0}L + id * 1000000)").as("time"),
        when(col("id") % 997 < 10, lit(null).cast("double"))
          .otherwise(lit(2.0) + sin(col("id") * 0.001) * 0.1)
          .as("water_level"))
      .write.mode("overwrite").parquet(p("glxraw"))

  private def genSon(spark: SparkSession, m: Double, p: String => String): Unit = {
    import spark.implicits._
    spark.range(n(10000L, m))
      .select(col("id"), explode(sequence(lit(0), lit(2))).as("sweep"))
      .select(
        expr(s"timestamp_micros(${T0}L + id * 60000000)").as("time"),
        col("sweep"), (lit(600) + col("sweep") * 10).as("headPosition"),
        (col("sweep") * 3.0).as("headAngleDeg"),
        (lit(10.0) + col("sweep") * 10).as("Heading"),
        lit(1.0).as("Pitch"), lit(2.0).as("Roll"),
        expr("transform(sequence(0, 49), i -> CAST(i % 256 AS DOUBLE))")
          .as("sonar_image"))
      .write.mode("overwrite").parquet(p("sonraw"))
    graft.io.Netcdf3.write(
      Seq((0.0, 3.5)).toDF("time", "brange"), p("sonbrange.nc"),
      attrs = Seq("initial_instrument_height" -> "1.5"),
      varAttrs = Map("time" -> Seq("units" -> "seconds since 2024-02-01")))
  }

  private def genSonXy(spark: SparkSession, m: Double, p: String => String): Unit =
    spark.range(n(2000L, m))
      .select(col("id"), explode(sequence(lit(0), lit(35))).as("scan"))
      .select(
        expr(s"timestamp_micros(${T0}L + id * 60000000)").as("time"),
        col("scan"), (col("scan") * math.Pi / 18.0).as("theta"),
        expr("transform(sequence(1, 50), i -> CAST(i AS DOUBLE) * 0.1)")
          .as("HorizontalRange"),
        expr("transform(sequence(0, 49), i -> CAST(i % 256 AS DOUBLE))")
          .as("sonar_image"))
      .write.mode("overwrite").parquet(p("sonavg"))

  // ---- raw instrument text files --------------------------------------

  /** Write `lines` to `path` as `charset` bytes, each line ended by `eol`,
    * behind a UTF-8 byte-order mark when `bom` is set. The ingest fixtures
    * are exact byte layouts (encodings, BOMs, line ends), so they are built
    * on the driver; each holds a few rows per multiplier unit. */
  private def writeText(path: String, lines: Seq[String], charset: String = "UTF-8",
                        eol: String = "\n", bom: Boolean = false): Unit = {
    val body = lines.map(_ + eol).mkString.getBytes(charset)
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (if (bom) Array(0xEF, 0xBB, 0xBF).map(_.toByte) else Array.emptyByteArray) ++ body)
  }

  private def rows(m: Double)(line: Int => String): Seq[String] =
    (0 until n(6L, m).toInt).map(line)

  private def hms(i: Int): String = f"${i / 3600}%02d:${i / 60 % 60}%02d:${i % 60}%02d"

  private def genMarotte(s: SparkSession, m: Double, p: String => String): Unit =
    writeText(p("marotte.csv"), "MAROTTE HS title line, ignore" +: rows(m) { i =>
      val row = f"2024-03-01 ${hms(i * 5)}, ${0.12 + i * 0.01}%.2f,184.$i,0.15,0.09," +
        f"12.1,185.0,3.61,${18.4 + i * 0.1}%.1f"
      if (i == 2) row + "\n" else row // a blank line between rows
    }, eol = "\r\n")

  private def toa5(title: String, names: String, m: Double, nan: Boolean): Seq[String] =
    Seq(title, names, "\"TS\",\"RN\",\"m\",\"dB\"", "\"\",\"\",\"Smp\",\"Smp\"") ++
      rows(m) { i =>
        val amp = if (nan && i % 3 == 1) "\"NAN\"" else f"${60.0 + i * 0.4}%.1f"
        f"\"2024-03-01 ${hms(3600 - i)}\",${10 + i}, ${4.512 + i * 0.001}%.3f ,$amp"
      } :+ ""

  private def genGlxText(s: SparkSession, m: Double, p: String => String): Unit =
    writeText(p("glx.dat"), toa5("\"TOA5\",\"glx\",\"CR1000X\",\"12345\"",
      "\"TIMESTAMP\",\"RECORD\",\"distance\",\"amplitude\"", m, nan = false))

  private def genCampbell(s: SparkSession, m: Double, p: String => String): Unit =
    writeText(p("met.dat"), toa5("\"TOA5\",\"stn\",\"CR1000\",\"1\",\"x\",\"y\",\"z\",\"Tbl\"",
      "\"TIMESTAMP\",\"RECORD\",\"WindSpeed_avg\",\"Temp\"", m, nan = true), bom = true)

  private def genMayfly(s: SparkSession, m: Double, p: String => String): Unit =
    writeText(p("mayfly.csv"), (1 to 7).map(k => s"Mayfly preamble $k, Sampling Feature") ++
      Seq("Date and Time in UTC,Temp,Turb,Batt") ++ rows(m) { i =>
        val temp = if (i % 2 == 1) "-9999" else f"${18.5 + i * 0.1}%.1f"
        f"2024-03-01 ${hms(i * 900)},$temp,${12.1 + i}%.1f,${if (i == 4) "-9999" else "4.1"}"
      } ++ Seq("", "  "))

  private def genTcm(s: SparkSession, m: Double, p: String => String): Unit =
    writeText(p("tcm_CR.txt"), Seq("ISO 8601 Time,Speed (cm/s),Bearing (degrees)," +
      "Velocity-N (cm/s),Velocity-E (cm/s)") ++ rows(m) { i =>
        f"2024-03-01T00:00:${i}%02d.000,${12.5 + i * 0.1}%.1f,${184 + i}.0,-12.4,1.$i"
      } :+ "")

  private def genEco(s: SparkSession, m: Double, p: String => String): Unit =
    writeText(p("eco.raw"), rows(m) { i =>
      val t = s"05/01/24\t12:00:${f"$i%02d"}"
      i % 4 match {
        case 1 => s"$t\t700" // short: no counts column
        case 2 => s"$t\t700\tbad\t456" // counts do not parse
        case _ => s"  $t\t700\t${120 + i}\t456 "
      }
    } ++ Seq("", "mvs 1"))

  private def genMicrocat(s: SparkSession, m: Double, p: String => String): Unit =
    writeText(p("mc.asc"), Seq(
      "* Sea-Bird SBE37 Data File:",
      "* SBE37-SM V 2.6b  SERIAL NO. 1234  01 Mar 2024  00:00:00",
      "* sample interval = 60 seconds", "*S>", "") ++ rows(m) { i =>
        if (i == 3) " 18.7301, 4.23450" // short line
        else if (i == 4) "S>"
        else f" ${18.7301 + i * 0.0001}%.4f, 4.234${50 + i}, 29.918$i, 01 Mar 2024, 00:0$i:00"
      } :+ "*END*", bom = true)

  private def genTroll(s: SparkSession, m: Double, p: String => String): Unit =
    writeText(p("troll.csv"), (1 to 5).map(k => s"Log Data: preamble line $k") ++
      Seq("Date and Time (UTC),Temperature (C),Actual Conductivity (\u00b5S/cm)," +
        "Pressure (PSI),Depth") ++ rows(m) { i =>
        f"2024-03-01 00:0$i:00,${18.5 + i * 0.1}%.1f,${30123.0 + i}%.1f,14.7,${1.2 + i * 0.01}%.2f"
      } :+ "", charset = "ISO-8859-1")

  private def genTruBlue(s: SparkSession, m: Double, p: String => String): Unit =
    writeText(p("tb.csv"), Seq("Transducer Model : TB255", "Transducer Serial : 998877",
      "Scan Type : Normal", "Firmware Version : 1.0.4 (2023)", "",
      "Notes : a keyword block of no fixed length",
      "ID,Name,Address,Scan Date & Time,Elapsed Time,Pressure,Temperature") ++ rows(m) { i =>
        if (i == 2) s"$i,TB,0,2024-03-01 00:20:00" // short line
        else f"$i,TB,0,2024-03-01 00:${i * 10}%02d:00,${i * 600}.0,${10.13 + i * 0.01}%.2f,18.$i"
      } :+ "")

  private def genArgonautDat(s: SparkSession, m: Double, p: String => String): Unit =
    writeText(p("arg.dat"), Seq("", "Year Month Day Hour Minute Second  Level   Flow VelX") ++
      rows(m) { i =>
        f" 2024  2  1  0 ${i * 10} 0   ${3.25 + i * 0.1}%.2f  ${12.0 + i}%.1f ${0.1 * i}%.1f"
      } :+ "   ")

  private def genTid(s: SparkSession, m: Double, p: String => String): Unit =
    writeText(p("sg.tid"), rows(m) { i =>
      f"    ${i + 1} 01/01/2024 ${hms(i * 360)}  ${14.503773800722 + i}%.12f  12.${i}"
    } :+ "", charset = "US-ASCII")

  private def genExoText(charset: String)(s: SparkSession, m: Double, p: String => String): Unit =
    writeText(p("exo.csv"), (1 to 8).map(k => s"KOR export metadata line $k,,") ++
      Seq("Date (MM/DD/YYYY),Time (HH:mm:ss),Time (Fract Sec),Temp \u00b0C," +
        "SpCond \u00b5S/cm,Turbidity NTU") ++ rows(m) { i =>
        f"1/15/2024,${i / 4}:${i % 4 * 15}%02d:00,0,${21.31 + 0.01 * i}%.2f,48012.2,${10.0 * i}%.1f"
      } :+ "", charset)

  private def genHoboText(s: SparkSession, m: Double, p: String => String): Unit =
    writeText(p("hobo.csv"), Seq("Plot Title: 10973214 \u00b0 logger",
      "#,Date Time GMT-00:00,Abs Pres kPa,Temp \u00b0C") ++ rows(m) { i =>
        f"${i + 1},01/15/24 ${if (i < 3) 12 else 1}%02d:${i * 15 % 60}%02d:00 ${if (i % 2 == 0) "AM" else "PM"}," +
          f"${101.325 - i * 0.025}%.3f,${21.5 - i * 0.1}%.1f"
      })

  // ---- step invocations ----------------------------------------------

  private def runRskClean(spark: SparkSession, p: String => String): Unit =
    RunOts.runStep(spark, "rsk", "clean",
      Meta(Map.empty[String, Any]), p("comraw"), p("comclean"))

  /** Every per-family chain, in the order ChainScale reports them. */
  val all: Seq[ChainCase] = Seq(
    ChainCase("iq/clean", genIq, "iqraw", (s, p) =>
      RunOts.runStep(s, "iq", "clean",
        Meta(Map("orientation" -> "DOWN")), p("iqraw"), p("iqclean"))),
    ChainCase("abss/clean", genAbss, "abraw", (s, p) =>
      RunOts.runStep(s, "abss", "clean",
        Meta(Map[String, Any]("orientation" -> "DOWN", "brange" -> true)),
        p("abraw"), p("abclean"))),
    ChainCase("eofe/clean", genEofe, "earaw", (s, p) =>
      RunOts.runStep(s, "eofe", "clean",
        Meta(Map[String, Any]("trim_method" -> "altitude",
          "EADeadzone_m" -> 0.1, "EARange_m" -> 10.0,
          "EABin_size_m" -> 0.5, "EASoundSpeed_mps" -> 1500.0,
          "average_salinity" -> 32.0, "WATER_DEPTH" -> 10.0,
          "orientation" -> "UP", "initial_instrument_height" -> 1.0)),
        p("earaw"), p("eaclean"))),
    ChainCase("lisst/clean", genLisst, "liraw", (s, p) =>
      RunOts.runStep(s, "lisst", "clean",
        Meta(Map[String, Any]("operating_mode" -> "burst",
          "depth_max" -> 100.0)), p("liraw"), p("liclean"))),
    ChainCase("met/clean", genMet, "metraw", (s, p) =>
      RunOts.runStep(s, "met", "clean",
        Meta(Map[String, Any]("magnetic_variation" -> 15.0)),
        p("metraw"), p("metclean"))),
    ChainCase("rdi/clean", genRdi, "rdiraw", (s, p) =>
      RunOts.runStep(s, "rdi", "clean",
        Meta(Map.empty[String, Any]), p("rdiraw"), p("rdiclean"))),
    ChainCase("rsk/clean", genCom, "comraw", runRskClean),
    // waves consumes the CLEAN product: gen also runs the upstream step so
    // the fuzzer mutates exactly what this chain reads
    ChainCase("rsk/waves",
      (s, m, p) => { genCom(s, m, p); runRskClean(s, p) }, "comclean",
      (s, p) => RunOts.runStep(s, "rsk", "waves",
        Meta(Map[String, Any]("wave_nsamps" -> 512,
          "sample_interval" -> 1.0, "pressure_sensor_height" -> 0.5)),
        p("comclean"), p("comwaves"))),
    ChainCase("rsk/diwasp", genDw, "dwraw", (s, p) =>
      RunOts.runStep(s, "rsk", "diwasp",
        Meta(Map[String, Any]("wave_nsamps" -> 512,
          "sample_interval" -> 1.0, "pressure_sensor_height" -> 0.5,
          "WATER_DEPTH" -> 10.0, "diwasp_nfft" -> 128,
          "diwasp_dres" -> 18)), p("dwraw"), p("dwdiwasp"))),
    ChainCase("sig/clean", genSig, "sigraw", (s, p) =>
      RunOts.runStep(s, "sig", "clean",
        Meta(Map[String, Any]("magnetic_variation" -> 12.0,
          "velocity_cor_min" -> 30.0, "trim_ast" -> "true",
          "ast_qual_sf" -> 0.85)), p("sigraw"), p("sigclean"))),
    // the filter labels run at most 50k rows at x1
    ChainCase("sig/clean_vel_filter", (s, m, p) => genSig(s, m * 0.08, p), "sigraw",
      (s, p) => RunOts.runStep(s, "sig", "clean",
        Meta(Map[String, Any]("magnetic_variation" -> 12.0,
          "velocity_cor_min" -> 30.0, "vel_filter_method" -> "lowpass",
          "vel_filter_cut" -> 30.0, "sample_interval" -> 1.0)),
        p("sigraw"), p("sigvfclean"))),
    ChainCase("sig/clean_vel_filter_bins", genSigBins, "sigbinraw", (s, p) =>
      RunOts.runStep(s, "sig", "clean",
        Meta(Map[String, Any]("magnetic_variation" -> 12.0,
          "vel_filter_method" -> "lowpass", "vel_filter_cut" -> 30.0,
          "sample_interval" -> 1.0)), p("sigbinraw"), p("sigbinclean"))),
    ChainCase("sig/clean_vel_filter_bursts", genSigBursts, "sigburstraw", (s, p) =>
      RunOts.runStep(s, "sig", "clean",
        Meta(Map[String, Any]("magnetic_variation" -> 12.0,
          "vel_filter_method" -> "lowpass", "vel_filter_cut" -> 10.0,
          "sample_rate" -> 2.0)), p("sigburstraw"), p("sigburstclean"))),
    ChainCase("vec/clean", genVec, "vecraw", (s, p) =>
      RunOts.runStep(s, "vec", "clean",
        Meta(Map[String, Any]("VECCoordinateSystem" -> "BEAM",
          "VECTransMatrix" -> nortekT, "magnetic_variation" -> 10.0,
          "snr_threshold" -> 10.0, "cor_threshold" -> 50.0,
          "AnalogInput1_ssc_calibration" -> Seq(2.0, 1.0))),
        p("vecraw"), p("vecclean"))),
    ChainCase("aqd/clean", genAqd, "aqdraw", (s, p) =>
      RunOts.runStep(s, "aqd", "clean",
        Meta(Map[String, Any]("AQDCoordinateSystem" -> "BEAM",
          "AQDTransMatrix" -> nortekT, "orientation" -> "UP",
          "magnetic_variation" -> 15.0, "velocity_cor_min" -> 30.0,
          "trim_method" -> "water level sl", "AQDCellSize" -> 250.0,
          "trim_surf_bins" -> 1)), p("aqdraw"), p("aqdclean"))),
    ChainCase("son/clean", genSon, "sonraw", (s, p) =>
      RunOts.runStep(s, "son", "clean",
        Meta(Map[String, Any]("brange_file" -> p("sonbrange.nc"),
          "height_var" -> "brange", "initial_instrument_height" -> 1.0,
          "SONNDataPoints" -> 5, "SONRange" -> 5.0,
          "magnetic_variation_at_site" -> -15.0)),
        p("sonraw"), p("sonclean"))),
    ChainCase("son/nc2xy", genSonXy, "sonavg", (s, p) =>
      RunOts.runStep(s, "son", "nc2xy",
        Meta(Map[String, Any]("SONRange" -> 5.0, "dxy" -> 0.2)),
        p("sonavg"), p("sonxy"))),
    ChainCase("glx/clean", genGlx, "glxraw", (s, p) =>
      RunOts.runStep(s, "glx", "clean",
        Meta(Map[String, Any]("filtered_wl" -> "true",
          "sample_interval" -> 1.0)), p("glxraw"), p("glxclean"))),
    ChainCase("exo/clean", genExo, "exoraw", (s, p) =>
      RunOts.runStep(s, "exo", "clean",
        Meta(Map[String, Any]("atmpres" -> 10.0, "Turb_max" -> 60.0,
          "Turb_ssc_calibration" -> Seq(2.0, 1.0))),
        p("exoraw"), p("exoclean"))),
    ChainCase("exo/clean_trim_edges", genExoEdges, "exoraw", (s, p) =>
      RunOts.runStep(s, "exo", "clean",
        Meta(Map[String, Any]("atmpres" -> 10.0, "Turb_min" -> 25.0, "Turb_max" -> 55.0)),
        p("exoraw"), p("exoedgeclean"))),
    ChainCase("hobo/clean", genHobo, "hoboraw", (s, p) =>
      RunOts.runStep(s, "hobo", "clean",
        Meta(Map[String, Any]("atmpres" -> 10.0, "NAVD88_ref" -> -1.25,
          "filtered_wl" -> "true", "sample_interval" -> 1.0,
          "average_salinity" -> 30.0, "initial_instrument_height" -> 0.25,
          "latitude" -> 30.0)), p("hoboraw"), p("hoboclean"))),
    ChainCase("hobo/clean_lowpass", (s, m, p) => genHobo(s, m * 0.08, p), "hoboraw",
      (s, p) => RunOts.runStep(s, "hobo", "clean",
        Meta(Map[String, Any]("atmpres" -> 10.0, "NAVD88_ref" -> -1.25,
          "filtered_wl" -> "true", "sample_interval" -> 1.0,
          "average_salinity" -> 30.0, "initial_instrument_height" -> 0.25,
          "latitude" -> 30.0, "P_1_lowpass_filt" -> 60.0,
          "T_28_lowpass_filt" -> 600.0)), p("hoboraw"), p("hobolpclean"))),
  )

  private def ingestCase(label: String, gen: (SparkSession, Double, String => String) => Unit,
                         input: String, meta: Map[String, Any] = Map.empty): ChainCase =
    ChainCase(s"ingest/$label", gen, input, (s, p) =>
      RunOts.runStep(s, label.takeWhile(_ != '_'), "ingest", Meta(meta), p(input),
        p(s"${label}raw")))

  /** One `ingest` step per delimited-text instrument dialect, over a raw
    * file holding the lines that decide its parse: sentinels, quoting,
    * prompts, short and blank lines, BOMs and non-ASCII headers. Kept out of
    * [[all]]: [[FuzzChains]] mutates parquet inputs, not raw text. */
  val ingest: Seq[ChainCase] = Seq(
    ingestCase("marotte", genMarotte, "marotte.csv"),
    ingestCase("glx", genGlxText, "glx.dat"),
    ingestCase("met_campbell", genCampbell, "met.dat"),
    ingestCase("met_mayfly", genMayfly, "mayfly.csv"),
    ingestCase("tcm", genTcm, "tcm_CR.txt"),
    ingestCase("eco", genEco, "eco.raw"),
    ingestCase("mc", genMicrocat, "mc.asc"),
    ingestCase("troll", genTroll, "troll.csv", Map("skiprows" -> 5)),
    ingestCase("tb", genTruBlue, "tb.csv"),
    ingestCase("argonaut", genArgonautDat, "arg.dat"),
    ingestCase("sg", genTid, "sg.tid"),
    ingestCase("exo", genExoText("UTF-8"), "exo.csv"),
    ingestCase("exo_latin1", genExoText("ISO-8859-1"), "exo.csv"),
    ingestCase("hobo", genHoboText, "hobo.csv"),
  )
}
