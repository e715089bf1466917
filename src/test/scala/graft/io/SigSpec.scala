package graft.io

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

/** Nortek Signature pipeline: per-datatype group split, datenum time,
  * bin geometry, multi-chunk concat, Beam2xyz glue (stglib/sig/mat2cdf.py).
  */
class SigSpec extends AnyFunSuite with SharedSpark {
  import Mat5Fixture._

  // datenum for 2024-02-01T00:00:00 = ordinal(2024-02-01) + 366
  private val d0 = java.time.LocalDate.of(2024, 2, 1).toEpochDay + 719163L + 366L

  private def chunk(t0: Double, nt: Int, pBase: Double): Array[Byte] = {
    val times = (0 until nt).map(i => t0 + i / 86400.0) // 1-s cadence
    val pres = (0 until nt).map(i => pBase + 0.01 * i)
    // VelBeam1 (time x 2 cells), column-major: cell0 block then cell1 block
    val vel = (0 until 2).flatMap(c => (0 until nt).map(t => c + 0.1 * t))
    // AHRS (time x 9) aux matrix, column-major
    val ahrs = (0 until 9).flatMap(j => (0 until nt).map(t => j.toDouble))
    val avgTimes = times.map(_ + 0.25 / 86400.0)
    val data = matrixStruct("Data", Seq(
      "Burst_Time" -> matrixNum("", nt, 1, times: _*),
      "Burst_Pressure" -> matrixNum("", nt, 1, pres: _*),
      "Burst_VelBeam1" -> matrixNum("", nt, 2, vel: _*),
      "Burst_AHRSRotationMatrix" -> matrixNum("", nt, 9, ahrs: _*),
      "Average_Time" -> matrixNum("", nt, 1, avgTimes: _*),
      "Average_Heading" -> matrixNum("", nt, 1, (0 until nt).map(_ * 1.0): _*)))
    val cfg = matrixStruct("Config", Seq(
      "Burst_NCells" -> matrixNum("", 1, 1, 2.0),
      "Burst_CellSize" -> matrixNum("", 1, 1, 0.5),
      "Burst_BlankingDistance" -> matrixNum("", 1, 1, 0.2),
      "Burst_Beam2xyz" -> matrixNum("", 2, 2, 1.0, 0.0, 0.0, 2.0),
      "Burst_HighResolution" -> matrixChars("", "False"),
      "Plan_BurstEnabled" -> matrixChars("", "True")))
    matFile(data, cfg)
  }

  test("datenum conversion matches the reference matlab2datetime") {
    // 739283.5 = 2024-02-01T12:00 per fromordinal(int)+frac-366
    val us = Sig.datenumToMicros(d0 + 0.5)
    assert(java.time.Instant.ofEpochSecond(us / 1000000, us % 1000000 * 1000)
      .toString == "2024-02-01T12:00:00Z")
  }

  test("group split: burst cells long-format with bindist, scalar average group") {
    val gs = Sig.split(spark, Mat5.parse(chunk(d0, 4, 10.0)))
    assert(gs.map(_.dataType).sorted == Seq("Average", "Burst"))
    val burst = gs.find(_.dataType == "Burst").get
    val bdf = burst.df
    // 4 times x 2 cells
    assert(bdf.count() == 8)
    for (c <- Seq("time", "bin", "bindist", "VelBeam1", "Pressure", "AHRSRotationMatrix"))
      assert(bdf.columns.contains(c), s"missing $c")
    val r = bdf.filter("bin = 1").orderBy("time").collect()(0)
    // bindist = 0.2 + 0.25 + 1*0.5
    assert(math.abs(r.getDouble(bdf.columns.indexOf("bindist")) - 0.95) < 1e-12)
    // column-major: cell 1, t 0 -> 1 + 0.1*0
    assert(r.getDouble(bdf.columns.indexOf("VelBeam1")) == 1.0)
    // scalar repeats across cells
    assert(r.getDouble(bdf.columns.indexOf("Pressure")) == 10.0)
    assert(r.getSeq[Double](bdf.columns.indexOf("AHRSRotationMatrix")).length == 9)
    val t0 = bdf.orderBy("time").collect()(0).getTimestamp(0)
    assert(t0.toInstant.toString == "2024-02-01T00:00:00Z")
    assert(burst.beam2xyz.get.toSeq == Seq(1.0, 0.0, 0.0, 2.0))
    // Average group: no cells -> one row per time
    val avg = gs.find(_.dataType == "Average").get.df
    assert(avg.count() == 4 && !avg.columns.contains("bin"))
  }

  test("multi-chunk ingest unions per datatype and sorts by time") {
    val dir = java.nio.file.Files.createTempDirectory("sig").toFile
    // chunk 2 has EARLIER times than chunk 1 -> sort must interleave
    java.nio.file.Files.write(new java.io.File(dir, "dep_1.mat").toPath,
      chunk(d0 + 1.0, 3, 20.0))
    java.nio.file.Files.write(new java.io.File(dir, "dep_2.mat").toPath,
      chunk(d0, 3, 10.0))
    val gs = Sig.ingest(spark, new java.io.File(dir, "dep").getAbsolutePath)
    val burst = gs.find(_.dataType == "Burst").get.df
    assert(burst.count() == 12) // 2 chunks x 3 times x 2 cells
    val times = burst.select("time").distinct().orderBy("time")
      .collect().map(_.getTimestamp(0).toInstant.toString)
    assert(times.head == "2024-02-01T00:00:00Z")
    // datenum is a float of days: ~10 us quantization at modern dates (the
    // reference inherits the same imprecision via matlab2datetime)
    val lastUs = java.time.Instant.parse(times.last).toEpochMilli
    val wantUs = java.time.Instant.parse("2024-02-02T00:00:02Z").toEpochMilli
    assert(math.abs(lastUs - wantUs) <= 1, s"last=${times.last}")
    // beam2xyz transform glue
    val b2x = gs.find(_.dataType == "Burst").get.beam2xyz.get
    val xyz = Sig.applyBeam2xyz(
      burst.withColumnRenamed("VelBeam1", "v1")
        .withColumn("v2", org.apache.spark.sql.functions.lit(1.0)),
      b2x, Seq("v1", "v2"))
    val r = xyz.filter("bin = 0").orderBy("time").collect()(0)
    // vel_x = 1*v1 + 0*v2, vel_y = 0*v1 + 2*v2
    assert(r.getDouble(xyz.columns.indexOf("vel_x")) ==
      r.getDouble(xyz.columns.indexOf("v1")))
    assert(r.getDouble(xyz.columns.indexOf("vel_y")) == 2.0)
  }

  test("RunOts sig dispatch writes per-datatype raw parquet") {
    val dir = java.nio.file.Files.createTempDirectory("sig_cli").toFile
    java.nio.file.Files.write(new java.io.File(dir, "dep_1.mat").toPath,
      chunk(d0, 4, 10.0))
    val out = new java.io.File(dir, "raw").getAbsolutePath
    graft.cli.RunOts.runStep(spark, "sig", "ingest",
      graft.core.Meta(Map.empty[String, Any]),
      new java.io.File(dir, "dep_1.mat").getAbsolutePath, out)
    val burst = spark.read.parquet(out)
    assert(burst.count() == 8)
    assert(burst.columns.contains("bindist"))
    val avg = spark.read.parquet(out + "_avgd")
    assert(avg.count() == 4)
    // Beam2xyz travels in the attrs sidecar
    val attrs = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(out, "_graft_attrs.json").toPath), "UTF-8")
    assert(attrs.contains("Beam2xyz"))
    assert(attrs.contains("\"data_type\""))
  }

  test("sig chain continues through clean; per-profile split sink") {
    val dir = java.nio.file.Files.createTempDirectory("sig_clean").toFile
    java.nio.file.Files.write(new java.io.File(dir, "dep_1.mat").toPath,
      chunk(d0, 4, 10.0))
    val raw = new java.io.File(dir, "raw").getAbsolutePath
    val clean = new java.io.File(dir, "clean").getAbsolutePath
    val meta = graft.core.Meta(Map(
      "rename_Pressure" -> "P_1", "atmpres" -> 0.5, "P_1_max" -> 10.02))
    graft.cli.RunOts.runStep(spark, "sig", "ingest", meta,
      new java.io.File(dir, "dep_1.mat").getAbsolutePath, raw)
    graft.cli.RunOts.runStep(spark, "sig", "clean", meta, raw, clean)
    val df = spark.read.parquet(clean)
    assert(df.count() == 8)
    // scalar atmos offset applied; P_1_max trim nulled values > 10.02
    val r = df.filter("bin = 0").orderBy("time").collect()
    assert(math.abs(r(0).getDouble(df.columns.indexOf("P_1ac")) - 9.5) < 1e-9)
    assert(df.filter("P_1 IS NULL").count() == 2) // t=2,3 (10.02, 10.03) x... 
    // per-profile split: partitionBy writes one dir per bin (the reference's
    // per-profile file split, stglib/rsk/csv2cdf.py)
    val split = new java.io.File(dir, "split").getAbsolutePath
    graft.io.Sink.writeParquet(df, split, meta, partitionBy = Seq("bin"),
      float32 = false)
    assert(new java.io.File(split, "bin=0").isDirectory)
    assert(new java.io.File(split, "bin=1").isDirectory)
    assert(spark.read.parquet(split).count() == 8)
  }

  test("sig wave chain: scalar-pressure burst group -> clean -> wave stats") {
    val dir = java.nio.file.Files.createTempDirectory("sig_waves").toFile
    // 1100 x 1 Hz samples: 10 m column + 8 s wave (nsamps 256 -> 4 bursts)
    val nt = 1100
    val times = (0 until nt).map(i => (d0 + i / 86400.0))
    val pres = (0 until nt).map(i =>
      10.0 + 0.4 * math.sin(2 * math.Pi * 0.125 * i))
    val data = matrixStruct("Data", Seq(
      "Burst_Time" -> matrixNum("", nt, 1, times: _*),
      "Burst_Pressure" -> matrixNum("", nt, 1, pres: _*)))
    val cfg = matrixStruct("Config", Seq(
      "Plan_BurstEnabled" -> matrixChars("", "True")))
    java.nio.file.Files.write(new java.io.File(dir, "wv_1.mat").toPath,
      matFile(data, cfg))
    val meta = graft.core.Meta(Map(
      "rename_Pressure" -> "P_1", "sample_interval" -> 1.0,
      "pressure_sensor_height" -> 0.5, "WATER_DEPTH" -> 10.5,
      "wave_nsamps" -> 256, "spec_nsegs" -> 4, "wave_fcut" -> 0.3))
    val raw = new java.io.File(dir, "raw").getAbsolutePath
    val clean = new java.io.File(dir, "clean").getAbsolutePath
    val waves = new java.io.File(dir, "waves").getAbsolutePath
    graft.cli.RunOts.runStep(spark, "sig", "ingest", meta,
      new java.io.File(dir, "wv_1.mat").getAbsolutePath, raw)
    graft.cli.RunOts.runStep(spark, "sig", "clean", meta, raw, clean)
    graft.cli.RunOts.runStep(spark, "sig", "waves", meta, clean, waves)
    val stats = spark.read.parquet(waves)
    assert(stats.count() == 4) // 1100 samples -> 4 full 256-sample bursts
    val r = stats.orderBy("burst").collect()(0)
    val tp = r.getAs[Double]("wp_peak")
    val hs = r.getAs[Double]("wh_4061")
    assert(math.abs(tp - 8.0) < 0.5, s"Tp=$tp")
    assert(hs > 1.0 && hs < 2.2, s"Hs=$hs") // 2*sqrt(2)*0.4/Kp(~0.72)
  }
}
