package graft.cli

import graft.SharedSpark
import graft.io.Config
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end lifecycle: ingest → clean → waves on a synthetic RBR-style
  * pressure CSV (the reference's test_rbr_wvs chain, SURVEY §7.3). */
class RunOtsSpec extends AnyFunSuite with SharedSpark {
  /** The contract of RunOts' one product writer: a parquet product at
    * `path` whose sidecar's last `history` line stamps `note` at the fixed
    * epoch. */
  private def assertProduct(path: String, note: String): Unit = {
    assert(new java.io.File(path, "_graft_attrs.json").isFile,
      s"no product at $path")
    val history = graft.io.Sink.readSidecar(path).getOrElse("history", "")
    assert(history.linesIterator.toSeq.lastOption
      .contains(s"1970-01-01T00:00:00Z: $note"), s"$path history: $history")
  }

  test("full RBR wave chain: csv -> raw -> clean -> wave statistics") {
    val dir = java.nio.file.Files.createTempDirectory("runots").toFile
    // 2048 samples at 1 Hz: 10 m column + 8 s wave + spikes outside range
    val csv = new java.io.File(dir, "logger.csv")
    val w = new java.io.PrintWriter(csv)
    w.println("time,Pressure,Temperature")
    val t0 = java.time.Instant.parse("2024-02-01T00:00:00Z")
    for (i <- 0 until 2200) {
      val wave = 0.4 * math.sin(2 * math.Pi * 0.125 * i)
      val spike = if (i % 500 == 499) 80.0 else 0.0 // trimmed by P_1_max
      w.println(s"${t0.plusSeconds(i)},${10.0 + wave + spike},${20.0 + 0.001 * i}")
    }
    w.close()

    val gatts = new java.io.File(dir, "gatts.txt")
    val gw = new java.io.PrintWriter(gatts)
    gw.println("MOORING; 9999")
    gw.println("WATER_DEPTH; 10.5")
    gw.println("latitude; 30.0")
    gw.println("Deployment_date; 2024-02-01 00:00")
    gw.println("Recovery_date; 2024-02-01 01:00")
    gw.close()

    val yaml = new java.io.File(dir, "config.yaml")
    val yw = new java.io.PrintWriter(yaml)
    yw.println("sample_interval: 1.0")
    yw.println("initial_instrument_height: 0.5")
    yw.println("P_1_max: 50.0")
    yw.println("wave_nsamps: 512")
    yw.println("spec_nsegs: 4")
    yw.println("wave_fcut: 0.3")
    yw.println("wh_min: 0.01")
    yw.close()

    val (meta, _) = Config.merge(
      Config.readGlobalAttsFile(gatts.getAbsolutePath),
      Config.readYamlFile(yaml.getAbsolutePath))

    val raw = new java.io.File(dir, "raw").getAbsolutePath
    val clean = new java.io.File(dir, "clean").getAbsolutePath
    val waves = new java.io.File(dir, "waves").getAbsolutePath
    RunOts.runStep(spark, "rsk", "ingest", meta, csv.getAbsolutePath, raw)
    RunOts.runStep(spark, "rsk", "clean", meta, raw, clean)
    RunOts.runStep(spark, "rsk", "waves", meta, clean, waves)

    // clean: all 2200 samples fall inside [deploy, recover]; spikes nulled
    val cleanDf = spark.read.parquet(clean)
    assert(cleanDf.count() == 2200)
    val spikes = cleanDf.filter("P_1 > 50.0").count()
    assert(spikes == 0, s"$spikes spikes survived P_1_max")

    // waves: full 512-sample bursts from 2200 samples = 4 bursts
    val stats = spark.read.parquet(waves)
    assert(stats.count() == 4)
    val row = stats.orderBy("burst").head()
    val hs = row.getAs[Double]("wh_4061")
    val tp = row.getAs[Double]("wp_peak")
    // 0.4 dbar PRESSURE amplitude at the sensor; the pipeline divides by
    // Kp (≈0.72 at h≈10.5 m, T=8 s) to recover surface elevation, so
    // Hs ≈ 2*sqrt(2) * 0.4/0.72 ≈ 1.57 (+ tail energy)
    assert(math.abs(tp - 8.0) < 0.5, s"Tp=$tp")
    assert(hs > 1.4 && hs < 1.9, s"Hs=$hs")
    // provenance sidecar exists
    assert(new java.io.File(waves, "_graft_attrs.json").exists())
  }

  test("HR Aquadopp lifecycle: hdr/sen/a/v/c ingest -> clean (ENU, fills) -> waves") {
    val dir = java.nio.file.Files.createTempDirectory("runots_hr").toFile
    def put(name: String)(body: java.io.PrintWriter => Unit): java.io.File = {
      val f = new java.io.File(dir, name)
      val w = new java.io.PrintWriter(f); body(w); w.close(); f
    }
    val nEns = 520
    // .hdr: 38-char label column; "Extended velocity range" marks HR
    def pad(l: String, v: String) = l.padTo(38, ' ') + v
    val hdr = put("dep.hdr") { w =>
      w.println(pad("Profile interval", "1 sec"))
      w.println(pad("Number of cells", "1"))
      w.println(pad("Cell size", "250 mm"))
      w.println(pad("Extended velocity range", "ON"))
      w.println(pad("Blanking distance", "0.10 m"))
      w.println(pad("Coordinate system", "BEAM"))
      w.println(pad("Transformation matrix", "1.5774 -0.7891 -0.7891"))
      w.println(pad("", "0.0000 -1.3662 1.3662"))
      w.println(pad("", "0.3677 0.3677 0.3677"))
    }
    // .sen: heading 90 / pitch 0 / roll 0 make H and P identity, so
    // expected ENU = T · beam in closed form; pressure carries an 8 s wave
    put("dep.sen") { w =>
      for (i <- 0 until nEns) {
        val p = 10.0 + 0.4 * math.sin(2 * math.Pi * 0.125 * i)
        val hh = i / 3600; val mm = (i / 60) % 60; val ss = i % 60
        w.println(f"2 1 2024 $hh $mm $ss 0 0 12.5 1500 90.0 0.0 0.0 $p%.4f 20.0 0 0")
      }
    }
    for ((ext, value) <- Seq("a1" -> "120", "a2" -> "130", "a3" -> "140"))
      put(s"dep.$ext")(w => (0 until nEns).foreach(_ => w.println(value)))
    for ((ext, value) <- Seq("v1" -> "0.1", "v2" -> "0.2", "v3" -> "0.3"))
      put(s"dep.$ext")(w => (0 until nEns).foreach(_ => w.println(value)))
    // correlation drops below threshold on ensembles 100-109
    for (ext <- Seq("c1", "c2", "c3"))
      put(s"dep.$ext")(w => (0 until nEns).foreach(i =>
        w.println(if (i >= 100 && i < 110) "20" else "80")))

    val meta = graft.core.Meta(Map(
      "rename_pressure" -> "P_1", "rename_temperature" -> "T_28",
      "orientation" -> "UP", "velocity_cor_min" -> 30.0,
      "initial_instrument_height" -> 0.5, "WATER_DEPTH" -> 10.5,
      "latitude" -> 30.0, "sample_interval" -> 1.0,
      "wave_nsamps" -> 256, "spec_nsegs" -> 4, "wave_fcut" -> 0.3))
    val raw = new java.io.File(dir, "raw").getAbsolutePath
    val clean = new java.io.File(dir, "clean").getAbsolutePath
    val waves = new java.io.File(dir, "waves").getAbsolutePath
    RunOts.runStep(spark, "aqd", "ingest", meta, hdr.getAbsolutePath, raw)

    // header attrs (HR-prefixed) landed in the sidecar
    val side = graft.io.Sink.readSidecar(raw)
    assert(side("AQDHRCoordinateSystem") == "BEAM")
    assert(side("AQDTransMatrix").startsWith("1.5774,-0.7891"))
    assert(side("AQDHRCellSize") == "250")

    RunOts.runStep(spark, "aqd", "clean", meta, raw, clean)
    val c = spark.read.parquet(clean)
    // raw beam variables dropped, transformed + averaged variables present
    assert(!c.columns.exists(Set("VEL1", "VEL2", "VEL3", "amp1", "cor1")))
    assert(Set("u_1205", "v_1206", "w_1204", "AGC_1202", "cor_avg", "bin_depth")
      .subsetOf(c.columns.toSet))
    val r0 = c.orderBy("ens").head()
    // with H = P = I: u = T row1 · (0.1, 0.2, 0.3), etc.
    assert(math.abs(r0.getAs[Double]("u_1205") - (-0.23681)) < 1e-9)
    assert(math.abs(r0.getAs[Double]("v_1206") - 0.13662) < 1e-9)
    assert(math.abs(r0.getAs[Double]("w_1204") - 0.22062) < 1e-9)
    assert(r0.getAs[Double]("AGC_1202") == 130.0)
    // bin 0 bindist = 0.10 + 0.125 = 0.225; up-looking: P - bindist
    assert(math.abs(r0.getAs[Double]("bin_depth") -
      (r0.getAs[Double]("P_1") - 0.225)) < 1e-9)
    // low-correlation ensembles filled (10 of them), others kept
    assert(c.filter("u_1205 IS NULL").count() == 10)
    assert(c.filter("cor_avg <= 30 AND u_1205 IS NOT NULL").count() == 0)

    RunOts.runStep(spark, "aqd", "waves", meta, clean, waves)
    val stats = spark.read.parquet(waves)
    assert(stats.count() == 2) // 520 samples -> 2 full 256-sample bursts
    val row = stats.orderBy("burst").head()
    assert(math.abs(row.getAs[Double]("wp_peak") - 8.0) < 0.5)
    assert(row.getAs[Double]("wh_4061") > 1.0)
  }

  test("native .rsk ingest and netCDF-3 export round the lifecycle") {
    val dir = java.nio.file.Files.createTempDirectory("runots_rsk").toFile
    val rsk = getClass.getResource("/fixture.rsk").getPath
    val meta = graft.core.Meta(Map(
      "rename_channel01" -> "P_1", "rename_channel02" -> "S_41",
      "filename" -> "test9999"))
    val raw = new java.io.File(dir, "raw").getAbsolutePath
    RunOts.runStep(spark, "rsk", "ingest", meta, rsk, raw)
    val df = spark.read.parquet(raw)
    assert(df.columns.toSet == Set("time", "P_1", "S_41"))
    assert(df.count() == 6000)
    val first = df.orderBy("time").limit(1).collect()(0)
    assert(first.getTimestamp(df.columns.indexOf("time")).getTime == 1704067200000L)

    val nc = new java.io.File(dir, "out.nc").getAbsolutePath
    RunOts.runStep(spark, "rsk", "export", meta, raw, nc)
    val read = graft.io.Netcdf3.read(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(nc)))
    assert(read.numrecs == 6000)
    assert(read.vars.map(_.name).contains("P_1"))
    assert(read.attrs("filename") == "test9999")
    assert(read.vars.find(_.name == "time").get.attrs("standard_name") == "time")
    // time column exported as CF seconds since epoch
    assert(read.column("time").min == 1704067200.0)

    // netcdf_format: cdf5 routes the same export through the 64-bit writer
    val nc5 = new java.io.File(dir, "out5.nc").getAbsolutePath
    RunOts.runStep(spark, "rsk", "export", meta + ("netcdf_format" -> "cdf5"),
      raw, nc5)
    val b5 = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(nc5))
    assert(b5(3) == 5) // CDF-5 magic
    val r5 = graft.io.Netcdf3.read(b5)
    assert(r5.numrecs == 6000 && r5.column("time").min == 1704067200.0)
  }

  test("EofE altimeter chain: .log ingest -> clean (trim) -> netCDF export") {
    val dir = java.nio.file.Files.createTempDirectory("runots_ea").toFile
    val log = new java.io.File(dir, "alt.log")
    val w = new java.io.PrintWriter(log)
    w.println("#NSamples 4")
    w.println("#Pulses in series,num  1")
    val t0 = java.time.Instant.parse("2024-02-01T00:00:00Z")
    for (i <- 0 until 60) {
      val alt = if (i % 20 == 19) 0.1 else 2.0 + 0.01 * i // deadzone spikes
      w.println(s"#TimeUTC ${t0.plusSeconds(i * 60).toString.replace("T", " ").replace("Z", "")}")
      w.println("#Ping   " + i)
      w.println("#Ping num in series 1")
      w.println(s"#Altitude,m $alt")
      w.println("#Temperature,C 12.5")
      w.println("#Pitch,deg 0.2")
      w.println("#Roll,deg -0.1")
    }
    w.close()
    val meta = graft.core.Meta(Map(
      "Deployment_date" -> "2024-02-01 00:00",
      "Recovery_date" -> "2024-02-01 02:00",
      "altitudeM_min" -> 0.5, "altitudeM_max" -> 9.0))
    val raw = new java.io.File(dir, "raw").getAbsolutePath
    val clean = new java.io.File(dir, "clean").getAbsolutePath
    RunOts.runStep(spark, "eofe", "ingest", meta, log.getAbsolutePath, raw)
    val rawDf = spark.read.parquet(raw)
    assert(rawDf.count() == 60)
    assert(rawDf.columns.contains("altitudeM") && rawDf.columns.contains("time"))
    RunOts.runStep(spark, "eofe", "clean", meta, raw, clean)
    val cleanDf = spark.read.parquet(clean)
    // deployment window keeps the first 120 minutes of data (all 60 rows);
    // EPIC renames applied, per-ping counters dropped (eofe.py:97-105)
    assert(cleanDf.count() == 60)
    assert(cleanDf.columns.contains("Tx_1211") &&
      !cleanDf.columns.contains("ping"))
    // call_qaqc runs on the burst-AVERAGED product (eofe.py:137): min/max
    // trim nulls the deadzone spikes there, not in the burst file
    val avgDf = spark.read.parquet(clean + "-a")
    assert(avgDf.count() == 60) // Pulses_in_series=1: one sample per burst
    val nulls = avgDf.filter("altitudeM IS NULL").count()
    assert(nulls == 3, s"expected 3 trimmed spikes, got $nulls")
    val nc = new java.io.File(dir, "alt.nc").getAbsolutePath
    RunOts.runStep(spark, "eofe", "export", meta,
      clean, nc)
    val read = graft.io.Netcdf3.read(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(nc)))
    assert(read.numrecs == 60)
    assert(read.vars.map(_.name).contains("altitudeM"))
  }

  test("Aquadopp chain: .hdr/.sen/.aN/.vN ingest -> clean with aux-series atmos as-of") {
    val dir = java.nio.file.Files.createTempDirectory("runots_aqd").toFile
    def pad(l: String, v: String) = l.padTo(38, ' ') + v
    val hdr = new java.io.File(dir, "dep.hdr")
    var w = new java.io.PrintWriter(hdr)
    w.println(pad("Profile interval", "60 sec"))
    w.println(pad("Number of cells", "3"))
    w.println(pad("Cell size", "100 cm"))
    w.println(pad("Blanking distance", "0.40 m"))
    w.println(pad("Coordinate system", "ENU"))
    w.println(pad("Number of beams", "3"))
    w.close()
    // .sen: 4 ensembles, one per minute from 2024-02-15T06:30
    w = new java.io.PrintWriter(new java.io.File(dir, "dep.sen"))
    for (i <- 0 until 4)
      w.println(s" 2 15 2024  6 ${30 + i}  0 0 0 13.2 0 271.1 -1.5 0.8 10.1${i} 18.55 0 0")
    w.close()
    for (m <- Seq("a1", "a2", "a3", "v1", "v2", "v3")) {
      w = new java.io.PrintWriter(new java.io.File(dir, s"dep.$m"))
      for (i <- 0 until 4) w.println(s"${i}.1 ${i}.2 ${i}.3")
      w.close()
    }
    // aux atmospheric pressure series offset by <=2 s from sample times
    val met = new java.io.File(dir, "met.csv")
    w = new java.io.PrintWriter(met)
    w.println("time,atmpres")
    for (i <- 0 until 4)
      w.println(s"2024-02-15T06:${30 + i}:02,10.0${i}")
    w.close()
    val meta = graft.core.Meta(Map(
      "rename_pressure" -> "P_1",
      "atmpres_file" -> met.getAbsolutePath,
      "atmpres_offset" -> 0.01,
      "atmpres_tolerance_sec" -> 5.0))
    val raw = new java.io.File(dir, "raw").getAbsolutePath
    val clean = new java.io.File(dir, "clean").getAbsolutePath
    RunOts.runStep(spark, "aqd", "ingest", meta, hdr.getAbsolutePath, raw)
    val rawDf = spark.read.parquet(raw)
    // 4 ensembles x 3 bins, ENU velocity names, bin geometry attached
    assert(rawDf.count() == 12)
    for (c <- Seq("time", "P_1", "U", "V", "W", "amp1", "bindist"))
      assert(rawDf.columns.contains(c), s"missing $c")
    val b0 = rawDf.filter("ens = 0 AND bin = 0").collect()(0)
    assert(math.abs(b0.getDouble(rawDf.columns.indexOf("bindist")) - 0.9) < 1e-9)
    assert(b0.getDouble(rawDf.columns.indexOf("U")) == 0.1)

    RunOts.runStep(spark, "aqd", "clean", meta, raw, clean)
    val cleanDf = spark.read.parquet(clean)
    assert(cleanDf.count() == 12)
    // P_1ac = P_1 - atmpres(asof nearest, 2 s away) - offset
    val r0 = cleanDf.filter("ens = 0 AND bin = 0").collect()(0)
    val pac = r0.getDouble(cleanDf.columns.indexOf("P_1ac"))
    assert(math.abs(pac - (10.10 - 10.00 - 0.01)) < 1e-9, s"P_1ac=$pac")
    val r3 = cleanDf.filter("ens = 3 AND bin = 0").collect()(0)
    val pac3 = r3.getDouble(cleanDf.columns.indexOf("P_1ac"))
    assert(math.abs(pac3 - (10.13 - 10.03 - 0.01)) < 1e-9, s"P_1ac=$pac3")
  }

  test("turnaround step: aqd BEAM fixture -> U/V/W + quick-look nc + QA summary") {
    val dir = java.nio.file.Files.createTempDirectory("runots_turn").toFile
    def put(name: String)(body: java.io.PrintWriter => Unit): java.io.File = {
      val f = new java.io.File(dir, name)
      val w = new java.io.PrintWriter(f); body(w); w.close(); f
    }
    def pad(l: String, v: String) = l.padTo(38, ' ') + v
    val nEns = 200
    val hdr = put("dep.hdr") { w =>
      w.println(pad("Profile interval", "1 sec"))
      w.println(pad("Number of cells", "1"))
      w.println(pad("Cell size", "250 mm"))
      w.println(pad("Extended velocity range", "ON"))
      w.println(pad("Blanking distance", "0.10 m"))
      w.println(pad("Coordinate system", "BEAM"))
      w.println(pad("Transformation matrix", "1.5774 -0.7891 -0.7891"))
      w.println(pad("", "0.0000 -1.3662 1.3662"))
      w.println(pad("", "0.3677 0.3677 0.3677"))
    }
    // heading 90 / pitch 0 / roll 0 -> H·P = I, so U/V/W = T · beam exactly
    put("dep.sen") { w =>
      for (i <- 0 until nEns) {
        val p = 10.0 + 0.4 * math.sin(2 * math.Pi * i / nEns)
        val mm = i / 60; val ss = i % 60
        w.println(f"2 1 2024 0 $mm $ss 0 0 12.5 1500 90.0 0.0 0.0 $p%.4f 20.0 0 0")
      }
    }
    for ((ext, value) <- Seq("a1" -> "120", "a2" -> "130", "a3" -> "140"))
      put(s"dep.$ext")(w => (0 until nEns).foreach(_ => w.println(value)))
    for ((ext, value) <- Seq("v1" -> "0.1", "v2" -> "0.2", "v3" -> "0.3"))
      put(s"dep.$ext")(w => (0 until nEns).foreach(_ => w.println(value)))
    val meta = graft.core.Meta(Map(
      "rename_pressure" -> "P_1", "orientation" -> "UP"))
    val out = new java.io.File(dir, "dep").getAbsolutePath
    RunOts.runStep(spark, "aqd", "turnaround", meta, hdr.getAbsolutePath, out)

    // transformed U/V/W present, beam variables KEPT (unlike clean)
    val t = spark.read.parquet(out + "_turnaround")
    assert(Set("U", "V", "W", "VEL1", "amp1", "P_1").subsetOf(t.columns.toSet))
    val r0 = t.orderBy("ens").head()
    assert(math.abs(r0.getAs[Double]("U") - (-0.23681)) < 1e-9)
    assert(math.abs(r0.getAs[Double]("V") - 0.13662) < 1e-9)
    assert(math.abs(r0.getAs[Double]("W") - 0.22062) < 1e-9)

    // quick-look netCDF readable; transform-matrix attr blanked
    val nc = graft.io.Netcdf3.read(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out + "_turnaround.nc")))
    assert(nc.numrecs == nEns)
    assert(nc.vars.exists(_.name == "U") && nc.vars.exists(_.name == "P_1"))
    assert(!nc.attrs.contains("AQDTransMatrix"))

    // QA summary: the plot-limit numbers, one row per numeric variable
    val qa = spark.read.parquet(out + "_turnaround_qa")
    val byVar = qa.collect().map(r => r.getAs[String]("variable") -> r).toMap
    val p = byVar("P_1")
    assert(p.getAs[Long]("n") == nEns && p.getAs[Long]("nulls") == 0)
    assert(math.abs(p.getAs[Double]("mean") - 10.0) < 1e-2)
    assert(p.getAs[Double]("min") >= 9.59 && p.getAs[Double]("max") <= 10.41)
    assert(p.getAs[Double]("q05") > p.getAs[Double]("min") - 1e-9)
    assert(p.getAs[Double]("q95") < p.getAs[Double]("max") + 1e-9)
    assert(p.getAs[Double]("q95") > 10.3) // sine spends its tails near extremes
    val a1 = byVar("amp1") // constant column: all five stats collapse
    for (k <- Seq("min", "mean", "max", "q05", "q95"))
      assert(a1.getAs[Double](k) == 120.0, s"amp1 $k")
  }

  test("RDI PD0 chain: .pd0 ingest -> clean, pct-good and bottom-track present") {
    val dir = java.nio.file.Files.createTempDirectory("runots_rdi").toFile
    val pd0 = new java.io.File(dir, "deploy.pd0")
    val os = new java.io.FileOutputStream(pd0)
    (1 to 6).foreach(i => os.write(
      graft.io.Pd0Fixture.ensemble(i, ncells = 4, nbeams = 4, (c, b) => 100 * c + 10 * b)))
    os.close()
    val meta = graft.core.Meta(Map("rename_xducerDepthM" -> "P_1",
      "Coord_Transform" -> "EARTH", "magnetic_variation" -> 10.0,
      "orientation" -> "DOWN"))
    val raw = new java.io.File(dir, "raw").getAbsolutePath
    val clean = new java.io.File(dir, "clean").getAbsolutePath
    RunOts.runStep(spark, "rdi", "ingest", meta, pd0.getAbsolutePath, raw)
    val rawDf = spark.read.parquet(raw)
    assert(rawDf.count() == 24) // 6 ensembles x 4 cells
    for (c <- Seq("time", "P_1", "vel1", "pg1", "btRangeM1", "btVel1"))
      assert(rawDf.columns.contains(c), s"missing $c")
    val t = rawDf.select("time").distinct().collect()(0).getTimestamp(0)
    assert(t.toInstant.toString == "2024-03-15T12:30:45.500Z")
    RunOts.runStep(spark, "rdi", "clean", meta, raw, clean)
    val cdf = spark.read.parquet(clean)
    assert(cdf.count() == 24)
    // rdi chain (rdi/cdf2nc.py): EPIC per-beam renames + earth-velocity
    // split + magvar rotation + bin_depth
    for (c <- Seq("u_1205", "v_1206", "w_1204", "Werr_1201",
        "cor1_1285", "AGC1_1221", "bin_depth"))
      assert(cdf.columns.contains(c), s"missing $c")
    assert(!cdf.columns.contains("vel1") && !cdf.columns.contains("cor1"))
    // cell 0: E=0, N=10 -> u' = 10 sin(10 deg), v' = 10 cos(10 deg)
    val r0 = cdf.filter("bin = 0").orderBy("time").collect()(0)
    val rad = math.toRadians(10.0)
    assert(math.abs(r0.getAs[Double]("u_1205") - 10 * math.sin(rad)) < 1e-9)
    assert(math.abs(r0.getAs[Double]("v_1206") - 10 * math.cos(rad)) < 1e-9)
    // bin_depth (DOWN) = P_1 + bindist; xducer 10.5 m, bin0 at 1.6 m
    assert(math.abs(r0.getAs[Double]("bin_depth") - 12.1) < 1e-9)
  }

  test("ABSS lifecycle: burst dir ingest -> abss clean (scale_vars, atmos," +
       " bin_depth, averaged product with brange)") {
    import graft.io.Mat5Fixture._
    def burstMat(timeS: String, burstNum: Double): Array[Byte] = {
      val abs = for (x <- 0 until 2; s <- 0 until 2; b <- 0 until 2)
        yield 0.001 * (100 * x + 10 * s + b)
      val br = Seq(0.1, 0.2, 0.15, 0.3)
      val aux = Seq(10.1, 10.2, 10.3, 21.0, 21.1, 21.2)
      matFile(
        matrixChars("BurstTime", timeS),
        matrixNum("BurstNumber", 1, 1, burstNum),
        matrixNum("AbsBinRange", 2, 2, br: _*),
        matrixNum("AbsTxFrequency", 1, 2, 4e6, 1e6),
        matrixNum3("AbsData", 2, 2, 2, abs: _*),
        matrixNum("AuxData", 3, 2, aux: _*),
        matrixCell("AuxChannelName", Seq(
          matrixChars("", "Pressure"), matrixChars("", "Ext Temperature"))))
    }
    val dir = java.nio.file.Files.createTempDirectory("abss_clean").toFile
    java.nio.file.Files.write(new java.io.File(dir, "b1.mat").toPath,
      burstMat("2024-02-01 00:00:00", 1))
    java.nio.file.Files.write(new java.io.File(dir, "b2.mat").toPath,
      burstMat("2024-02-01 01:00:00", 2))
    val meta = graft.core.Meta(Map(
      "P_1_offset" -> 10.0, "ABSPressureUnits" -> "Bar",
      "atmpres" -> 0.5, "orientation" -> "DOWN", "brange" -> true))
    val raw = new java.io.File(dir, "raw").getAbsolutePath
    RunOts.runStep(spark, "abss", "ingest", meta, dir.getAbsolutePath, raw)
    val clean = new java.io.File(dir, "clean").getAbsolutePath
    RunOts.runStep(spark, "abss", "clean", meta, raw, clean)

    // aux: scale_vars (P-10)*10*1 then scalar atmos -0.5; leading aux
    // sample dropped (remove_aux_snum) -> samples 0,1 carry 2.0, 3.0
    val aux = spark.read.parquet(clean + "_aux")
    assert(aux.columns.contains("Tx_1211")) // ExtTemperature renamed
    val a0 = aux.orderBy("time", "sample").collect()(0)
    assert(math.abs(a0.getAs[Double]("Pressure") - 2.0) < 1e-9)
    assert(math.abs(a0.getAs[Double]("Pressure_ac") - 1.5) < 1e-9)
    assert(aux.count() == 4) // 2 bursts x 2 aligned samples

    // abs: bin_depth = Pressure_ac(time, sample) + bindist
    val abs = spark.read.parquet(clean)
    assert(abs.count() == 16)
    val b1 = abs.filter("xdcr_freq = 1.0 AND bin = 1 AND sample = 0")
      .orderBy("time").collect()(0)
    assert(math.abs(b1.getAs[Double]("bin_depth") - 1.8) < 1e-9)

    // averaged product: mean over sample; brange = bindist of peak abs
    // at the lowest frequency past the 0.2 m guard
    val avg = spark.read.parquet(clean + "-a")
    assert(avg.count() == 8) // 2 times x 2 freqs x 2 bins
    val m = avg.filter("xdcr_freq = 1.0 AND bin = 1").orderBy("time").collect()(0)
    assert(math.abs(m.getAs[Double]("abs") - 0.106) < 1e-12)
    assert(math.abs(m.getAs[Double]("brange") - 0.3) < 1e-12)
    val avgAux = spark.read.parquet(clean + "-a_aux")
    val aa = avgAux.orderBy("time").collect()(0)
    assert(math.abs(aa.getAs[Double]("Pressure") - 2.5) < 1e-9)
    assert(math.abs(aa.getAs[Double]("Tx_1211") - 21.15) < 1e-9)
    assertProduct(raw, s"Ingested ${dir.getAbsolutePath} (ABS bursts).")
    assertProduct(raw + "_aux", s"Ingested ${dir.getAbsolutePath} (ABS aux).")
    assertProduct(clean, "Scaled, corrected, QA/QC applied (ABS bursts).")
    assertProduct(clean + "_aux", "Scaled, corrected, QA/QC applied (ABS aux).")
    assertProduct(clean + "-a", "Created burst averaged data product")
    assertProduct(clean + "-a_aux", "Created burst averaged aux product")
  }

  test("EofE clean: sound-speed-corrected brange + NAVD88 boundary elevation") {
    val dir = java.nio.file.Files.createTempDirectory("runots_ea2").toFile
    val log = new java.io.File(dir, "alt.log")
    val w = new java.io.PrintWriter(log)
    w.println("#NSamples 4")
    w.println("#Pulses in series,num  1")
    w.println("#SoundSpeed,mps 1500.00")
    w.println("#Resolution,m 0.5")
    w.println("#Deadzone,m 0.5")
    w.println("#Range,m 9.0")
    val t0 = java.time.Instant.parse("2024-02-01T00:00:00Z")
    for (i <- 0 until 10) {
      val alt = if (i == 4) 0.1 else 2.0 // one deadzone spike
      w.println(s"#TimeUTC ${t0.plusSeconds(i * 60).toString.replace("T", " ").replace("Z", "")}")
      w.println("#Ping   " + i)
      w.println("#Ping num in series 1")
      w.println(s"#Altitude,m $alt")
      w.println("#Temperature,C 12.5")
      w.println("#Pitch,deg 0.2")
      w.println("#Roll,deg -0.1")
      // per-ping echo-count block (4 bins): counts = 100*i + bin
      w.println("##DataStart")
      for (b <- 0 until 4) w.println((100 * i + b).toString)
      w.println("##DataEnd")
    }
    w.close()
    val meta = graft.core.Meta(Map(
      "trim_method" -> Seq("altitude", "bin range"),
      "good_bins" -> Seq(0.0, 3.0), "orientation" -> "DOWN",
      "average_salinity" -> 32.0, "WATER_DEPTH" -> 10.0,
      "initial_instrument_height" -> 0.5, "NAVD88_ref" -> -5.0))
    val raw = new java.io.File(dir, "raw").getAbsolutePath
    val clean = new java.io.File(dir, "clean").getAbsolutePath
    RunOts.runStep(spark, "eofe", "log2cdf", meta, log.getAbsolutePath, raw)
    RunOts.runStep(spark, "eofe", "cdf2nc", meta, raw, clean)
    val df = spark.read.parquet(clean)
    // altitudeM dropped once brange replaces it (eofe.py:97-105)
    assert(!df.columns.contains("altitudeM") && df.columns.contains("brange"))
    // expected: median(alt)=2 (spike trimmed first), p = 10 - 0.5 + 1,
    // Mackenzie(32, 12.5, 10.5), brange = round(2/1500*sv, 3)
    val (t, s35, d) = (12.5, 32.0 - 35.0, 10.5)
    val sv = 1448.96 + 4.591 * t - 5.304e-2 * t * t + 2.374e-4 * t * t * t +
      1.340 * s35 + 1.630e-2 * d + 1.675e-7 * d * d - 1.025e-2 * t * s35 -
      7.139e-13 * t * d * d * d
    val exp = math.round(2.0 / 1500.0 * sv * 1000.0) / 1000.0
    val rows = df.orderBy("time").collect()
    assert(math.abs(rows(0).getAs[Double]("brange") - exp) < 1e-9,
      s"brange ${rows(0).getAs[Double]("brange")} vs $exp")
    // trim_alt: the deadzone spike row has null brange
    assert(rows(4).isNullAt(df.columns.indexOf("brange")))
    // boundary_elevation (DOWN, NAVD88) = -5 - brange + 0.5
    assert(math.abs(rows(0).getAs[Double]("boundary_elevation") -
      (-5.0 - exp + 0.5)) < 1e-3)
    // z = NAVD88_ref + initial_instrument_height
    assert(math.abs(rows(0).getAs[Double]("z") - (-4.5)) < 1e-12)

    // profile product (the reference's `bins` branch): good_bins keeps
    // bins 0-2, bin geometry from the header Resolution, sound-speed-
    // corrected bin height, trim via the same ping's PRE-trim altitude
    val pf = spark.read.parquet(clean + "_profiles")
    assert(pf.count() == 30) // 10 bursts x 3 kept bins
    val pfc = pf.columns
    assert(pfc.contains("AGC_1202") && !pfc.contains("counts"))
    val p0 = pf.filter("burst = 0 AND bin = 0").collect()(0)
    // bindist = (0 + 0.5) * 0.5; bin_height (DOWN) = 0.5 - 0.25
    assert(math.abs(p0.getAs[Double]("bindist") - 0.25) < 1e-12)
    assert(math.abs(p0.getAs[Double]("bin_height") - 0.25) < 1e-12)
    // cor_bin_height = round(bh/1500 * Mackenzie(32, 12.5, 10 - bh), 3)
    val d2 = 10.0 - 0.25
    val sv2 = 1448.96 + 4.591 * t - 5.304e-2 * t * t + 2.374e-4 * t * t * t +
      1.340 * s35 + 1.630e-2 * d2 + 1.675e-7 * d2 * d2 - 1.025e-2 * t * s35 -
      7.139e-13 * t * d2 * d2 * d2
    val corExp = math.round(0.25 / 1500.0 * sv2 * 1000.0) / 1000.0
    assert(math.abs(p0.getAs[Double]("cor_bin_height") - corExp) < 1e-9)
    assert(math.abs(p0.getAs[Double]("AGC_1202") - 0.0) < 1e-12)
    // deadzone ping (burst 4): counts trimmed via the raw altitude
    val p4 = pf.filter("burst = 4 AND bin = 1").collect()(0)
    assert(p4.isNullAt(pfc.indexOf("AGC_1202")))
    // burst-averaged profile product
    val pavg = spark.read.parquet(clean + "-a_profiles")
    assert(pavg.count() == 30)
    assert(pavg.columns.contains("AGC_1202") && !pavg.columns.contains("burst"))
    assertProduct(raw, s"Ingested ${log.getAbsolutePath}.")
    assertProduct(raw + "_profiles", s"Ingested ${log.getAbsolutePath}.")
    assertProduct(clean, "Trimmed altimeter data, sound-speed-corrected brange.")
    assertProduct(clean + "-a", "Burst-averaged altimeter product, QA/QC applied.")
    assertProduct(clean + "_profiles",
      "Trimmed profile echo data, corrected bin heights.")
    assertProduct(clean + "-a_profiles", "Burst-averaged profile echo product.")
  }

  test("Aquadopp waves chain: .wad burst ingest -> wave stats (no reshape)") {
    val dir = java.nio.file.Files.createTempDirectory("runots_wad").toFile
    val wad = new java.io.File(dir, "dep.wad")
    val w = new java.io.PrintWriter(wad)
    // 3 bursts x 256 samples: 10 m column + 8 s 0.4 dbar wave
    for (i <- 0 until 3 * 256) {
      val p = 10.0 + 0.4 * math.sin(2 * math.Pi * 0.125 * i)
      w.println(s"3 1 $p 0 0 0.1 0.2 0.3 0 1 2 3 0")
    }
    w.close()
    val meta = graft.core.Meta(Map(
      "WaveNumberOfSamples" -> 256, "AQDCoordinateSystem" -> "ENU",
      "sample_interval" -> 1.0, "pressure_sensor_height" -> 0.5,
      "wave_nsamps" -> 256, "spec_nsegs" -> 4, "wave_fcut" -> 0.3))
    val raw = new java.io.File(dir, "raw").getAbsolutePath
    val waves = new java.io.File(dir, "waves").getAbsolutePath
    RunOts.runStep(spark, "aqdwvs", "ingest", meta, wad.getAbsolutePath, raw)
    val rawDf = spark.read.parquet(raw)
    assert(rawDf.count() == 768)
    assert(rawDf.columns.contains("burst") && rawDf.columns.contains("U"))
    RunOts.runStep(spark, "aqdwvs", "waves", meta, raw, waves)
    val stats = spark.read.parquet(waves)
    assert(stats.count() == 3)
    val r = stats.orderBy("burst").collect()(0)
    assert(math.abs(r.getAs[Double]("wp_peak") - 8.0) < 0.5)
  }

  test("PUV waves path: wave_vars puv routes bursts through puv_quick") {
    val dir = java.nio.file.Files.createTempDirectory("runots_puv").toFile
    import spark.implicits._
    // synthetic clean parquet with burst/sample + p,u,v 8 s wave
    val f0 = 0.125; val depth = 10.0; val zp = 0.5; val zuv = 1.0
    val k = graft.kernels.Diwasp.wavenumber(2 * math.Pi * f0, depth)
    val aP = 0.5 * math.cosh(k * zp) / math.cosh(k * depth)
    val aU = 0.5 * 2 * math.Pi * f0 * math.cosh(k * zuv) / math.sinh(k * depth)
    val rows = for (b <- 0L until 2L; i <- 0 until 512) yield {
      val ph = 2 * math.Pi * f0 * i
      (b, i.toLong, aP * math.cos(ph) + (i * 7919.0 % 97.0) / 5000.0,
        aU * math.cos(ph) + (i * 104729.0 % 89.0) / 5000.0,
        (i * 15485863.0 % 83.0) / 5000.0)
    }
    val clean = new java.io.File(dir, "clean").getAbsolutePath
    rows.toDF("burst", "sample", "P_1", "u", "v").write.parquet(clean)
    val meta = graft.core.Meta(Map(
      "wave_vars" -> "puv", "WATER_DEPTH" -> depth,
      "pressure_sensor_height" -> zp, "velocity_sample_height" -> zuv,
      "sample_interval" -> 1.0, "wave_nsamps" -> 512))
    val waves = new java.io.File(dir, "waves").getAbsolutePath
    RunOts.runStep(spark, "vec", "waves", meta, clean, waves)
    val stats = spark.read.parquet(waves)
    assert(stats.count() == 2)
    assert(stats.columns.contains("tpp") && stats.columns.contains("hrmsp"))
    // monochromatic golden (the PUV mirror of the diwasp recovery test):
    // a 0.5 m surface amplitude gives m0 = a²/2, so Hrms = 2·√(2·m0) = 1.0
    // exactly; both the pressure and the velocity estimate must recover it
    // through depth attenuation (Kp at z=0.5 m, h=10 m), and Tpp the 8 s
    // forcing. Tolerances cover the injected decorrelated sensor noise.
    for (r <- stats.orderBy("burst").collect()) {
      assert(math.abs(r.getAs[Double]("tpp") - 8.0) < 1.0, s"tpp=${r.getAs[Double]("tpp")}")
      assert(math.abs(r.getAs[Double]("hrmsp") - 1.0) < 0.12, s"hrmsp=${r.getAs[Double]("hrmsp")}")
      assert(math.abs(r.getAs[Double]("hrmsu") - 1.0) < 0.12, s"hrmsu=${r.getAs[Double]("hrmsu")}")
    }
  }

  test("diwasp step: directional stats + optional S(f,theta) grid from config") {
    val dir = java.nio.file.Files.createTempDirectory("runots_diwasp").toFile
    import spark.implicits._
    // monochromatic 8 s wave travelling +x with decorrelated sensor noise
    val f0 = 0.125; val depth = 10.0; val zp = 0.5; val zuv = 1.0
    val k = graft.kernels.Diwasp.wavenumber(2 * math.Pi * f0, depth)
    val aP = 0.5 * math.cosh(k * zp) / math.cosh(k * depth)
    val aU = 0.5 * 2 * math.Pi * f0 * math.cosh(k * zuv) / math.sinh(k * depth)
    val rows = for (b <- 0L until 2L; i <- 0 until 512) yield {
      val ph = 2 * math.Pi * f0 * i
      (b, i.toLong, aP * math.cos(ph) + (i * 7919.0 % 97.0) / 5000.0,
        aU * math.cos(ph) + (i * 104729.0 % 89.0) / 5000.0,
        (i * 15485863.0 % 83.0) / 5000.0)
    }
    val clean = new java.io.File(dir, "clean").getAbsolutePath
    rows.toDF("burst", "sample", "P_1", "u", "v").write.parquet(clean)
    val meta = graft.core.Meta(Map(
      "WATER_DEPTH" -> depth, "pressure_sensor_height" -> zp,
      "velocity_sample_height" -> zuv, "sample_interval" -> 1.0,
      "wave_nsamps" -> 512, "diwasp_method" -> "DFTM",
      "diwasp_dres" -> 36, "diwasp_nfft" -> 128, "diwasp_dspec" -> "true"))
    val out = new java.io.File(dir, "dwv").getAbsolutePath
    RunOts.runStep(spark, "vec", "diwasp", meta, clean, out)
    val stats = spark.read.parquet(out)
    assert(stats.count() == 2)
    val r = stats.orderBy("burst").collect()(0)
    // peak period recovers the 8 s forcing; direction near +x (90 deg compass
    // convention inside the kernel's output range)
    assert(math.abs(r.getAs[Double]("tp") - 8.0) < 1.0, s"tp=${r.getAs[Double]("tp")}")
    val grid = spark.read.parquet(out + "_dspec")
    val nf = r.getAs[Int]("nfreq"); val nd = r.getAs[Int]("ndir")
    assert(grid.count() == 2L * nf * nd, s"grid=${grid.count()} nf=$nf nd=$nd")
    // Parseval-ish sanity: the grid integrates to positive energy
    val tot = grid.agg(org.apache.spark.sql.functions.sum("s")).collect()(0).getDouble(0)
    assert(tot > 0.0)
  }

  test("generic .mat ingest: equal-length vectors become columns") {
    import graft.io.Mat5Fixture._
    val dir = java.nio.file.Files.createTempDirectory("runots_mat").toFile
    val mat = new java.io.File(dir, "dep.mat")
    java.nio.file.Files.write(mat.toPath, matFile(
      matrixNum("pressure", 3, 1, 10.1, 10.2, 10.3),
      matrixNum("temperature", 3, 1, 21.0, 21.1, 21.2),
      matrixNum("serial", 1, 1, 42.0))) // shorter vector ignored
    val out = new java.io.File(dir, "raw").getAbsolutePath
    RunOts.runStep(spark, "rdi", "ingest",
      graft.core.Meta(Map("rename_pressure" -> "P_1")), mat.getAbsolutePath, out)
    val df = spark.read.parquet(out)
    assert(df.count() == 3)
    assert(df.columns.toSet == Set("P_1", "temperature"))
    assert(df.orderBy("P_1").collect()(0).getDouble(df.columns.indexOf("P_1")) == 10.1)
  }

  test("ingest accepts netCDF input of both families (nc4 chunked + reference cdf)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ncin").toFile
    // a chunked+DEFLATE netCDF-4 product written by the library itself
    val nc = new java.io.File(dir, "prod.nc").getAbsolutePath
    graft.io.Hdf5.writeChunked(
      Seq((0.0, 9.9), (1.0, 10.1), (2.0, 10.0)).toDF("time", "P_1"),
      nc, varAttrs = Map("time" -> Seq("units" -> "seconds since 2021-06-01")))
    val meta = graft.core.Meta(Map.empty[String, Any])
    val out = new java.io.File(dir, "raw").getAbsolutePath
    RunOts.runStep(spark, "rsk", "ingest", meta, nc, out)
    val got = spark.read.parquet(out).orderBy("time_raw").collect()
    assert(got.length == 3)
    assert(got(0).getAs[java.sql.Timestamp]("time").toInstant ==
      java.time.Instant.parse("2021-06-01T00:00:00Z"))
    assert(got(2).getAs[Double]("P_1") == 10.0)

    // and a REAL netcdf-c file from the reference examples, when present
    val ref = "/root/reference/examples/gndcrmet.nc"
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(ref))) {
      val out2 = new java.io.File(dir, "met").getAbsolutePath
      RunOts.runStep(spark, "rsk", "ingest", meta, ref, out2)
      val met = spark.read.parquet(out2)
      assert(met.count() == 17660)
      assert(met.columns.contains("BP") && met.columns.contains("time"))
      val first = met.orderBy("time_raw").head()
      assert(first.getAs[java.sql.Timestamp]("time").toInstant ==
        java.time.Instant.parse("2016-08-01T06:00:00Z"))
    }
  }


  test("Signature lifecycle: .mat ingest -> sig clean chain (magvar, cor fills, AST trim)") {
    import graft.io.Mat5Fixture._
    val dir = java.nio.file.Files.createTempDirectory("runots_sig").toFile
    val nt = 30
    val d0 = java.time.LocalDate.of(2024, 2, 1).toEpochDay + 719163L + 366L
    val times = (0 until nt).map(i => d0 + i / 86400.0)
    def const(v: Double) = Seq.fill(nt)(v)
    val cor = (0 until nt).map(i => if (i >= 5 && i < 10) 20.0 else 80.0)
    val astq = (0 until nt).map(i => 4000.0 + 200.0 * i) // centi-dB: 40-98 dB
    val data = matrixStruct("Data", Seq(
      "Burst_Time" -> matrixNum("", nt, 1, times: _*),
      "Burst_Pressure" -> matrixNum("", nt, 1,
        (0 until nt).map(i => 10.0 + 0.01 * i): _*),
      "Burst_VelEast" -> matrixNum("", nt, 1, const(0.1): _*),
      "Burst_VelNorth" -> matrixNum("", nt, 1, const(0.2): _*),
      "Burst_VelUp1" -> matrixNum("", nt, 1, const(0.05): _*),
      "Burst_VelUp2" -> matrixNum("", nt, 1, const(0.06): _*),
      "Burst_CorBeam1" -> matrixNum("", nt, 1, cor: _*),
      "Burst_CorBeam2" -> matrixNum("", nt, 1, cor: _*),
      "Burst_CorBeam3" -> matrixNum("", nt, 1, cor: _*),
      "Burst_AmpBeam1" -> matrixNum("", nt, 1, const(120.0): _*),
      "Burst_AmpBeam2" -> matrixNum("", nt, 1, const(122.0): _*),
      "Burst_AmpBeam3" -> matrixNum("", nt, 1, const(124.0): _*),
      "Burst_Heading" -> matrixNum("", nt, 1, const(-10.0): _*),
      "Burst_AltimeterQualityAST" -> matrixNum("", nt, 1, astq: _*),
      "Burst_AltimeterDistanceAST" -> matrixNum("", nt, 1, const(10.5): _*)))
    val cfg = matrixStruct("Config", Seq(
      "Plan_BurstEnabled" -> matrixChars("", "True"),
      "Burst_HighResolution" -> matrixChars("", "False")))
    val mat = new java.io.File(dir, "dep_1.mat")
    java.nio.file.Files.write(mat.toPath, matFile(data, cfg))

    val meta = graft.core.Meta(Map(
      "rename_AltimeterQualityAST" -> "ast_quality",
      "rename_AltimeterDistanceAST" -> "brangeAST",
      "magnetic_variation_at_site" -> 90.0,
      "velocity_cor_min" -> 30.0,
      "trim_ast" -> "true", "ast_qual_sf" -> 0.85,
      "orientation" -> "UP"))
    val raw = new java.io.File(dir, "raw").getAbsolutePath
    val clean = new java.io.File(dir, "clean").getAbsolutePath
    RunOts.runStep(spark, "sig", "ingest", meta, mat.getAbsolutePath, raw)
    RunOts.runStep(spark, "sig", "clean", meta, raw, clean)
    val c = spark.read.parquet(clean).orderBy("time")
    assert(c.count() == nt)
    val rows = c.collect()
    def d(r: org.apache.spark.sql.Row, n: String): Double =
      r.getAs[Double](c.columns.indexOf(n))
    // magvar 90: U' = V = 0.2, V' = -U = -0.1 (on unfilled rows)
    val kept = rows(0)
    assert(math.abs(d(kept, "U") - 0.2) < 1e-12)
    assert(math.abs(d(kept, "V") + 0.1) < 1e-12)
    // heading -10 + 90 = 80 (magvar), wraps positive via modulus
    assert(math.abs(d(kept, "Heading") - 80.0) < 1e-12)
    // cor_avg <= 30 on 5 samples -> velocity filled there
    assert(c.filter("U IS NULL").count() == 5)
    assert(c.filter("cor_avg <= 30 AND U IS NOT NULL").count() == 0)
    assert(math.abs(d(kept, "amp_avg") - 122.0) < 1e-12)
    // AST quality scaled to dB; threshold = round(0.85 * mean(top third))
    // = round(0.85 * 90) = 77 dB -> brangeAST trimmed where quality < 77
    assert(math.abs(d(kept, "ast_quality") - 40.0) < 1e-12)
    assert(c.filter("brangeAST IS NULL").count() == 19)
    assert(c.filter("brangeAST_untrimmed IS NULL").count() == 0)
  }

  test("Vector lifecycle: .vhd/.dat ingest -> vec clean chain (ENU, magvar, snr/cor fills)") {
    val dir = java.nio.file.Files.createTempDirectory("runots_vec").toFile
    def put(name: String)(body: java.io.PrintWriter => Unit): java.io.File = {
      val f = new java.io.File(dir, name)
      val w = new java.io.PrintWriter(f); body(w); w.close(); f
    }
    val vhd = put("dep.vhd") { w =>
      w.println(" 2  1 2024  0  0  0  1 16 0.1 0.1 0.1 10 10 10 0.1 0.1 0.1 0.1 0.25 0.2 0.2 0.2 0.2 0.30")
      w.println(" 2  1 2024  0  1  0  2 16 0.1 0.1 0.1 10 10 10 0.1 0.1 0.1 0.1 0.25 0.2 0.2 0.2 0.2 0.30")
    }
    put("dep.dat") { w =>
      for (b <- 1 to 2; e <- 1 to 16) {
        // snr dips at/below threshold on burst 1 ensembles 3-6; cor low on
        // burst 2 ensembles 1-2
        val snr = if (b == 1 && e >= 3 && e <= 6) 4.0 else 20.0
        val corv = if (b == 2 && e <= 2) 40.0 else 95.0
        w.println(f"$b $e 0.10 0.20 0.05 120 121 122 $snr%.1f 20.0 20.0 $corv%.1f 95.0 95.0 10.25 0 0 61")
      }
    }
    val meta = graft.core.Meta(Map(
      "VECSamplingRate" -> 8.0, "VECCoordinateSystem" -> "ENU",
      "magnetic_variation_at_site" -> 90.0,
      "snr_threshold" -> 5.0, "cor_threshold" -> 50.0,
      "orientation" -> "UP"))
    val raw = new java.io.File(dir, "raw").getAbsolutePath
    val clean = new java.io.File(dir, "clean").getAbsolutePath
    RunOts.runStep(spark, "vec", "ingest", meta, vhd.getAbsolutePath, raw)
    RunOts.runStep(spark, "vec", "clean", meta, raw, clean)
    val c = spark.read.parquet(clean)
    assert(c.count() == 32)
    // ENU naming + magvar 90: u' = v = 0.2, v' = -u = -0.1
    val kept = c.filter("u_1205 IS NOT NULL").orderBy("burst", "ensemble").head()
    def d(n: String): Double = kept.getAs[Double](c.columns.indexOf(n))
    assert(math.abs(d("u_1205") - 0.2) < 1e-12)
    assert(math.abs(d("v_1206") + 0.1) < 1e-12)
    assert(math.abs(d("w_1204") - 0.05) < 1e-12)
    // snr fill (4 rows) + cor fill (2 rows) -> 6 filled velocities
    assert(c.filter("u_1205 IS NULL").count() == 6)
    assert(c.filter("snr1 <= 5 AND u_1205 IS NOT NULL").count() == 0)
    assert(c.filter("cor1 <= 50 AND u_1205 IS NOT NULL").count() == 0)
  }


  test("export step: netcdf_compression selects the chunked+DEFLATE nc4 layout") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ncz").toFile
    val inp = new java.io.File(dir, "clean").getAbsolutePath
    (0 until 200).map(i => (i.toDouble, 10.0 + 0.5 * math.sin(i / 7.0)))
      .toDF("time", "P_1").write.parquet(inp)
    val out = new java.io.File(dir, "out.nc").getAbsolutePath
    val meta = graft.core.Meta(Map(
      "netcdf_format" -> "netcdf4", "netcdf_compression" -> 4))
    RunOts.runStep(spark, "rsk", "export", meta, inp, out)
    val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out))
    val h5 = graft.io.Hdf5.open(b)
    val p1 = h5.datasets.find(_.name == "P_1").get
    assert(p1.chunks.nonEmpty && p1.filters.map(_.id) == Seq(1))
    val got = graft.io.Hdf5.column(b, p1)
    assert(got.length == 200 && math.abs(got(7) - (10.0 + 0.5 * math.sin(1.0))) < 1e-12)
    // and it re-opens through the DataFrame path
    val back = graft.io.Readers.readNetcdf(spark, out)
    assert(back.count() == 200)
  }

  test("export step: netcdf_append extends an existing classic archive") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ncapp").toFile
    def part(lo: Int, hi: Int): String = {
      val p = new java.io.File(dir, s"clean_$lo").getAbsolutePath
      (lo until hi).map(i => (i.toDouble, 10.0 + i)).toDF("time", "P_1")
        .write.parquet(p)
      p
    }
    val out = new java.io.File(dir, "archive.cdf").getAbsolutePath
    val m0 = graft.core.Meta(Map[String, Any]("netcdf_format" -> "cdf2"))
    RunOts.runStep(spark, "rsk", "export", m0, part(0, 100), out)
    // second slice appends in place instead of re-writing
    RunOts.runStep(spark, "rsk", "export",
      m0 + ("netcdf_append" -> true), part(100, 150), out)
    val nc = graft.io.Netcdf3.read(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out)))
    assert(nc.numrecs == 150)
    assert(nc.column("time").toSeq == (0 until 150).map(_.toDouble))
    assert(nc.column("P_1")(149) == 159.0)
  }


  test("instrument-keyed CSV dialect ingest: exo, tcm, lisst routed to their readers") {
    val dir = java.nio.file.Files.createTempDirectory("dialects").toFile
    def put(name: String, body: String): java.io.File = {
      val f = new java.io.File(dir, name)
      val w = new java.io.PrintWriter(f); w.print(body); w.close(); f
    }
    val meta = graft.core.Meta(Map.empty[String, Any])

    // exo: header block + casing + date/time merge (Dialects.exo)
    val exo = put("exo.csv",
      (1 to 8).map(i => s"KOR export metadata line $i").mkString("\n") +
      "\nDate (MM/DD/YYYY),Time (HH:mm:ss),Temp \u00b0C,SpCond \u00b5S/cm\n" +
      "1/15/2024,0:00:00,21.31,48012.2\n1/15/2024,0:15:00,21.35,48013.8\n")
    val exoOut = new java.io.File(dir, "exo_raw").getAbsolutePath
    RunOts.runStep(spark, "exo", "ingest", meta, exo.getAbsolutePath, exoOut)
    val e = spark.read.parquet(exoOut)
    assert(e.count() == 2 && e.columns.exists(_.startsWith("temp")))

    // tcm (Lowell): DateTime/Speed/Bearing/Vel-N/Vel-E (Dialects.tcm)
    val tcm = put("tcm_CR.txt",
      "ISO 8601 Time,Speed (cm/s),Bearing (degrees),Velocity-N (cm/s),Velocity-E (cm/s)\n" +
      "2024-03-01T00:00:00.000,12.5,184.0,-12.4,1.1\n" +
      "2024-03-01T00:00:01.000,12.9,185.0,-12.8,1.2\n")
    val tcmOut = new java.io.File(dir, "tcm_raw").getAbsolutePath
    RunOts.runStep(spark, "tcm", "ingest", meta, tcm.getAbsolutePath, tcmOut)
    val t = spark.read.parquet(tcmOut)
    assert(t.count() == 2 && t.columns.contains("time"))

    // lisst: 36 vc columns + scalars -> two outputs, vc joined to rings
    val vcs = (1 to 36).map(i => (10 + i).toString).mkString(",")
    val scal = "95.1,11.9,0.1,1.2,3.5,18.2,2024,3,1,0,0,5," +
      "0.2,150.0,310.0,45.0,0.01,0.02,0.98,1,100,5.0,0.3,94.0,0.25"
    val lisst = put("lisst.csv", s"$vcs,$scal\n$vcs,$scal\n")
    val lisstOut = new java.io.File(dir, "lisst_raw").getAbsolutePath
    RunOts.runStep(spark, "lisst", "ingest", meta, lisst.getAbsolutePath, lisstOut)
    val ls = spark.read.parquet(lisstOut)
    assert(ls.count() == 2 && ls.columns.contains("Depth"))
    val lv = spark.read.parquet(lisstOut + "_vc")
    assert(lv.count() == 72) // 2 samples x 36 rings
    assert(lv.columns.toSet.contains("RSmedian"))
    val ring1 = lv.filter("ring = 1").head()
    assert(ring1.getAs[Double]("vc") == 11.0)
    assert(ring1.getAs[Double]("RSlower") == 1.00)
    assertProduct(lisstOut, s"Ingested ${lisst.getAbsolutePath} (LISST scalars).")
    assertProduct(lisstOut + "_vc",
      s"Ingested ${lisst.getAbsolutePath} (LISST vc rings).")
  }


  test("clean/waves accept netCDF inputs directly (raw-.cdf attr re-read)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("nc_clean").toFile
    // a chunked nc4 "raw product" carrying clip attrs as global attrs:
    // 2200 one-second samples with an 8 s wave + out-of-range spikes
    val rows = (0 until 2200).map { i =>
      val spike = if (i % 500 == 499) 80.0 else 0.0
      (i.toDouble, 10.0 + 0.4 * math.sin(2 * math.Pi * 0.125 * i) + spike)
    }
    val nc = new java.io.File(dir, "raw.nc").getAbsolutePath
    // every processing parameter rides IN the file's global attrs — the
    // reference's ds.attrs re-read at each step; config stays empty
    graft.io.Hdf5.writeChunked(rows.toDF("time", "P_1"), nc,
      attrs = Seq("P_1_max" -> "50.0", "sample_interval" -> "1.0",
        "initial_instrument_height" -> "0.5", "wave_nsamps" -> "512",
        "spec_nsegs" -> "4", "wave_fcut" -> "0.3"),
      varAttrs = Map("time" -> Seq("units" -> "seconds since 2024-02-01")))
    val clean = new java.io.File(dir, "clean").getAbsolutePath
    val waves = new java.io.File(dir, "waves").getAbsolutePath
    val meta = graft.core.Meta(Map.empty[String, Any])
    RunOts.runStep(spark, "rsk", "clean", meta, nc, clean)
    val c = spark.read.parquet(clean)
    assert(c.count() == 2200)
    assert(c.filter("P_1 IS NULL").count() == 4, "file-attr trim applied")
    // waves ALSO needs the file-attr chain: the clean parquet's sidecar
    // carries the merged attrs forward (insertHistory writes them), so
    // the waves step sees sample_interval/wave_nsamps with no config
    RunOts.runStep(spark, "rsk", "waves", meta, clean, waves)
    val stats = spark.read.parquet(waves).orderBy("burst").head()
    assert(math.abs(stats.getAs[Double]("wp_peak") - 8.0) < 0.5)
  }


  test("EXO lifecycle: KOR csv ingest -> clean (rename, scale, atmos, qaqc, ssc)") {
    val dir = java.nio.file.Files.createTempDirectory("runots_exo").toFile
    val csv = new java.io.File(dir, "exo.csv")
    val w = new java.io.PrintWriter(csv, "UTF-8")
    (1 to 8).foreach(i => w.println(s"KOR export metadata line $i"))
    w.println("Date (MM/DD/YYYY),Time (HH:mm:ss),Temp °C," +
      "SpCond µS/cm,Turbidity NTU,Press dbar,Sal psu,ODO % sat," +
      "pH mV,TDS mg/L,Depth m")
    val turb = Seq(10.0, 20.0, 100.0, 30.0, 40.0, 50.0) // 100 trips Turb_max
    for (i <- 0 until 6)
      w.println(f"1/15/2024,${i / 4}%d:${(i % 4) * 15}%02d:00," +
        f"${21.31 + 0.01 * i}%.2f,48012.2,${turb(i)}%.1f,12.0,30.1,95.0," +
        "250.0,100.0,5.0")
    w.close()
    val raw = new java.io.File(dir, "raw").getAbsolutePath
    val clean = new java.io.File(dir, "clean").getAbsolutePath
    val meta = graft.core.Meta(Map[String, Any](
      "Deployment_date" -> "2024-01-15 00:00",
      "Recovery_date" -> "2024-01-16 00:00",
      "atmpres" -> 10.0,
      "Turb_max" -> 60.0,
      "Turb_ssc_calibration" -> Seq(2.0, 1.0)))
    RunOts.runStep(spark, "exo", "ingest", meta, csv.getAbsolutePath, raw)
    // raw keeps the normalized instrument names (renames happen at clean)
    val r = spark.read.parquet(raw)
    assert(r.count() == 6 && r.columns.contains("turbidity_ntu"))
    RunOts.runStep(spark, "exo", "clean", meta, raw, clean)
    val c = spark.read.parquet(clean)
    assert(c.count() == 6)
    // EPIC renames (exo.py ds_rename_vars) + unit scaling
    for (v <- Seq("T_28", "SpC_48", "Turb", "P_1", "S_41", "OST_62"))
      assert(c.columns.contains(v), s"missing $v in ${c.columns.mkString(",")}")
    // drop list (exo.py:191-214): ph_mv, tds, depth gone
    for (v <- Seq("ph_mv", "tds_mg_per_l", "depth_m"))
      assert(!c.columns.contains(v), s"$v should be dropped")
    val rows = c.orderBy("time").collect()
    // µS/cm -> S/m BEFORE the rename (exo.py:257-271)
    assert(math.abs(rows(0).getAs[Double]("SpC_48") - 4.80122) < 1e-9)
    // scalar atmos offset applies AFTER the rename created P_1
    assert(math.abs(rows(0).getAs[Double]("P_1ac") - 2.0) < 1e-9)
    // Turb_max qaqc trim nulled the spike; ssc = polyval AFTER qaqc
    // (exo.py:219-221 call_qaqc then turbidity_to_ssc), coeffs [2, 1]
    assert(rows(2).isNullAt(rows(2).fieldIndex("Turb")))
    assert(rows(2).isNullAt(rows(2).fieldIndex("ssc")))
    assert(math.abs(rows(1).getAs[Double]("ssc") - (2.0 * 20.0 + 1.0)) < 1e-9)
  }

  test("SON lifecycle: clean (renames, unbounded brange nearest, ranges, " +
       "magvar, theta) + sweep-averaged product") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("runots_son").toFile
    // brange aux .nc: ONE sample 2h before the sonar series — farther than
    // the old 3600 s default tolerance, so only the reference's unbounded
    // reindex(method="nearest") semantics finds it
    val brangeNc = new java.io.File(dir, "brange.nc").getAbsolutePath
    graft.io.Netcdf3.write(
      Seq((0.0, 3.5)).toDF("time", "brange"), brangeNc,
      attrs = Seq("initial_instrument_height" -> "1.5"),
      varAttrs = Map("time" -> Seq("units" -> "seconds since 2024-03-01")))
    // sonar raw: 4 time steps x 3 sweeps starting 2024-03-01T02:00
    val t0 = java.time.Instant.parse("2024-03-01T02:00:00Z")
    val rows = for (i <- 0 until 4; s <- 0 until 3) yield (
      new java.sql.Timestamp(t0.plusSeconds(60L * i).toEpochMilli),
      s, 600 + 10 * s, 0.3 * (10 * s), 10.0 + 10 * s, 1.0, 2.0)
    val raw = new java.io.File(dir, "raw").getAbsolutePath
    rows.toDF("time", "sweep", "headPosition", "headAngleDeg",
      "Heading", "Pitch", "Roll").write.parquet(raw)
    val clean = new java.io.File(dir, "clean").getAbsolutePath
    val meta = graft.core.Meta(Map[String, Any](
      "brange_file" -> brangeNc, "height_var" -> "brange",
      "initial_instrument_height" -> 1.0,
      "SONNDataPoints" -> 5, "SONRange" -> 5.0,
      "magnetic_variation_at_site" -> -15.0))
    RunOts.runStep(spark, "son", "clean", meta, raw, clean)
    val c = spark.read.parquet(clean)
    assert(c.count() == 12)
    val r0 = c.orderBy("time", "sweep").head()
    // sonar_hgt = brange - (instr_init 1.5 - sonar_init 1.0) = 3.5 - 0.5
    assert(math.abs(r0.getAs[Double]("sonar_hgt") - 3.0) < 1e-9,
      "unbounded nearest must reach the 2h-away brange sample")
    // SlantRange (step 1 m, 5 points) masked at/below the bed return
    val sl = r0.getAs[scala.collection.Seq[java.lang.Double]]("SlantRange")
    assert(sl.take(3).forall(_ == null) && sl(3) == 4.0 && sl(4) == 5.0)
    val hr = r0.getAs[scala.collection.Seq[java.lang.Double]]("HorizontalRange")
    assert(math.abs(hr(3) - math.sqrt(16 - 9)) < 1e-9)
    // magvar: Hdg = pmod(round(10 - 15, 1), 360) = 355 for sweep 0
    assert(math.abs(r0.getAs[Double]("Hdg_1215") - 355.0) < 1e-9)
    // theta = radians((-HeadAngle + 90 + (360 - Hdg)) mod 360)
    val thetaWant = math.toRadians((-0.0 + 90 + (360 - 355.0)) % 360)
    assert(math.abs(r0.getAs[Double]("theta") - thetaWant) < 1e-9)
    // sweep-averaged sibling product (son/cdf2nc.py:104-134)
    val a = spark.read.parquet(clean + "-a")
    assert(a.count() == 4)
    val a0 = a.orderBy("time").head()
    // HeadAngle recomputed from the AVERAGED HeadPosition: 0.3*(610-600)
    assert(math.abs(a0.getAs[Double]("HeadAngle") - 3.0) < 1e-9)
    // headings vector-average: mean dir of {355, 5, 15} degrees
    val want = math.toDegrees(math.atan2(
      (math.sin(math.toRadians(355.0)) + math.sin(math.toRadians(5.0)) +
        math.sin(math.toRadians(15.0))) / 3,
      (math.cos(math.toRadians(355.0)) + math.cos(math.toRadians(5.0)) +
        math.cos(math.toRadians(15.0))) / 3))
    assert(math.abs(a0.getAs[Double]("Hdg_1215") - want) < 1e-9)
    // arrays averaged elementwise over the sweep (identical here)
    val asl = a0.getAs[scala.collection.Seq[java.lang.Double]]("SlantRange")
    assert(asl.take(3).forall(_ == null) && asl(3) == 4.0 && asl(4) == 5.0)
    assertProduct(clean, "Clipped, corrected, QA/QC applied.")
    assertProduct(clean + "-a", "Sweep-averaged sonar product.")
  }

  test("aqdTrimVel: DOWN-looking brange / inst_ht methods and bin range") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{max => smax}
    // 2 ensembles x 3 bins; boundary return at 1.2 m
    val df = (for (t <- 0 until 2; b <- 0 until 3) yield (
      new java.sql.Timestamp(1700000000000L + t * 1000L),
      b, 0.5 + 0.5 * b, 1.0, 1.2))
      .toDF("time", "bin", "bindist", "u_1205", "brange")
    // brange: bins at/below the boundary (bindist >= 1.2) masked, and the
    // all-null trailing bin dropped outright (aqdutils.py:562-566 + 588)
    val r1 = RunOts.aqdTrimVel(df, graft.core.Meta(Map[String, Any](
      "orientation" -> "down", "trim_method" -> "brange")))
    assert(r1.count() == 4 && r1.filter("bindist = 1.5").count() == 0)
    assert(r1.filter("u_1205 IS NULL").count() == 0)
    // inst_ht 0.9: only the 0.5 m bin survives (aqdutils.py:591-599)
    val r2 = RunOts.aqdTrimVel(df, graft.core.Meta(Map[String, Any](
      "orientation" -> "DOWN", "trim_method" -> "inst_ht",
      "initial_instrument_height" -> 0.9)))
    assert(r2.count() == 2)
    assert(r2.agg(smax($"bindist")).head().getDouble(0) == 0.5)
    // brange sl: cutoff 1.2·cos(25°) − 0.5·1 ≈ 0.588 -> only bin 0 again
    val r3 = RunOts.aqdTrimVel(df, graft.core.Meta(Map[String, Any](
      "orientation" -> "DOWN", "trim_method" -> "brange sl",
      "bin_size" -> 0.5, "trim_bottom_bins" -> 1)))
    assert(r3.count() == 2)
    assert(r3.agg(smax($"bindist")).head().getDouble(0) == 0.5)
    // bin range slices by index, both orientations (aqdutils.py:625-631)
    val r4 = RunOts.aqdTrimVel(df, graft.core.Meta(Map[String, Any](
      "orientation" -> "UP", "trim_method" -> "bin range",
      "good_bins" -> Seq(0.0, 2.0))))
    assert(r4.count() == 4 && r4.agg(smax($"bin")).head().getInt(0) == 1)
  }

  test("clean: filtered_wl creates the 6-min lowpass NAVD88 water level") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fwl").toFile
    val raw = new java.io.File(dir, "raw").getAbsolutePath
    val t0 = java.time.Instant.parse("2024-05-01T00:00:00Z")
    (0 until 600).map(i => (
      new java.sql.Timestamp(t0.plusSeconds(i).toEpochMilli),
      11.0, 30.0, 20.0))
      .toDF("time", "P_1", "S_41", "T_28").write.parquet(raw)
    val meta = graft.core.Meta(Map[String, Any](
      "filtered_wl" -> "true", "NAVD88_ref" -> -1.25,
      "initial_instrument_height" -> 0.25, "atmpres" -> 10.0,
      "sample_interval" -> 1.0, "latitude" -> 30.0))
    val clean = new java.io.File(dir, "clean").getAbsolutePath
    RunOts.runStep(spark, "rsk", "clean", meta, raw, clean)
    val c = spark.read.parquet(clean)
    // intermediate water_level dropped, filtered product kept (rsk/cdf2nc)
    assert(!c.columns.contains("water_level"))
    assert(c.columns.contains("water_level_filt"))
    // constant series: the lowpass passes pres2dep(P_1ac) + z unchanged
    val dep = Seq((1.0, 30.0, 20.0)).toDF("p", "s", "t")
      .select(graft.functions.Physics.pres2dep(
        org.apache.spark.sql.functions.col("p"),
        org.apache.spark.sql.functions.col("s"),
        org.apache.spark.sql.functions.col("t"), 30.0).as("d"))
      .head().getDouble(0)
    val want = dep + (-1.25 + 0.25)
    val got = c.collect().map(_.getAs[Double]("water_level_filt"))
    assert(got.length == 600)
    assert(got.forall(v => math.abs(v - want) < 1e-9),
      s"water_level_filt ${got.take(3).mkString(",")} vs $want")
  }

  test("reference step names dispatch verbatim (csv2cdf/cdf2nc/nc2waves)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("stepalias").toFile
    val csv = new java.io.File(dir, "logger.csv")
    val w = new java.io.PrintWriter(csv)
    w.println("time,Pressure")
    val t0 = java.time.Instant.parse("2024-02-01T00:00:00Z")
    for (i <- 0 until 1100)
      w.println(s"${t0.plusSeconds(i)},${10.0 + 0.4 * math.sin(2 * math.Pi * 0.125 * i)}")
    w.close()
    val meta = graft.core.Meta(Map[String, Any](
      "sample_interval" -> 1.0, "initial_instrument_height" -> 0.5,
      "wave_nsamps" -> 512, "spec_nsegs" -> 4))
    val raw = new java.io.File(dir, "raw").getAbsolutePath
    val clean = new java.io.File(dir, "clean").getAbsolutePath
    val waves = new java.io.File(dir, "waves").getAbsolutePath
    // the stglib user's exact step names
    RunOts.runStep(spark, "rsk", "csv2cdf", meta, csv.getAbsolutePath, raw)
    RunOts.runStep(spark, "rsk", "cdf2nc", meta, raw, clean)
    RunOts.runStep(spark, "rsk", "nc2waves", meta, clean, waves)
    assert(spark.read.parquet(clean).count() == 1100)
    assert(spark.read.parquet(waves).count() == 2) // two full 512 bursts
  }

  test("son nc2xy step: per-time polar fan regrids onto the x/y grid") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sonxy").toFile
    val avg = new java.io.File(dir, "avg").getAbsolutePath
    val t0 = new java.sql.Timestamp(
      java.time.Instant.parse("2024-03-14T00:00:10Z").toEpochMilli)
    // 2 time steps x 4 compass scan lines, 2 range samples each
    val thetas = Seq(0.0, 90.0, 180.0, 270.0).map(math.toRadians)
    val rows = for (t <- 0 until 2; s <- 0 until 4) yield (
      new java.sql.Timestamp(t0.getTime + t * 60000L), s, thetas(s),
      Seq(1.0, 2.0), Seq(10.0 + s + 100 * t, 20.0 + s + 100 * t))
    rows.toDF("time", "scan", "theta", "HorizontalRange", "sonar_image")
      .write.parquet(avg)
    val out = new java.io.File(dir, "xy").getAbsolutePath
    val meta = graft.core.Meta(Map[String, Any]("SONRange" -> 2.0, "dxy" -> 1.0))
    RunOts.runStep(spark, "son", "nc2xy", meta, avg, out)
    val xy = spark.read.parquet(out)
    // axis [-2,-1,0,1,2] per time step
    assert(xy.count() == 2 * 5)
    // referee: the kernel on the same fan
    val (axis, want) = graft.kernels.SonarRegrid.regrid(
      thetas.map(math.toDegrees).toArray, Array(1.0, 2.0),
      (0 until 4).map(s => Array(10.0 + s, 20.0 + s)).toArray, 2.0, 1.0)
    val got = xy.filter(org.apache.spark.sql.functions.col("time") === t0)
      .orderBy("x").collect()
    assert(got.map(_.getAs[Double]("x")).toSeq == axis.toSeq)
    for (i <- axis.indices) {
      val row = got(i).getAs[scala.collection.Seq[Double]]("sonar_image")
      for (j <- axis.indices)
        assert(java.lang.Double.compare(row(j), want(i)(j)) == 0 ||
          (row(j).isNaN && want(i)(j).isNaN), s"cell ($i,$j)")
    }
  }

  test("glx clean: filtered water level gap-fills within tolerance, re-nulls") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("glxwl").toFile
    val raw = new java.io.File(dir, "raw").getAbsolutePath
    val t0 = java.time.Instant.parse("2024-06-01T00:00:00Z")
    // constant 2.0 m level with two null gaps (30 s < the 60 s tolerance)
    (0 until 600).map(i => (
      new java.sql.Timestamp(t0.plusSeconds(i).toEpochMilli),
      if (i >= 100 && i < 130 || i >= 400 && i < 430) None else Some(2.0)))
      .toDF("time", "water_level").write.parquet(raw)
    val clean = new java.io.File(dir, "clean").getAbsolutePath
    val meta = graft.core.Meta(Map[String, Any](
      "filtered_wl" -> "true", "sample_interval" -> 1.0))
    RunOts.runStep(spark, "glx", "clean", meta, raw, clean)
    val c = spark.read.parquet(clean).orderBy("time").collect()
    assert(c.length == 600)
    // constant filled series -> lowpass passes 2.0; raw kept alongside
    for ((r, i) <- c.zipWithIndex) {
      val inGap = (i >= 100 && i < 130) || (i >= 400 && i < 430)
      if (inGap) {
        assert(r.isNullAt(r.fieldIndex("water_level")))
        assert(r.isNullAt(r.fieldIndex("water_level_filt")),
          s"row $i: filtered value must be re-nulled inside the gap")
      } else {
        assert(r.getAs[Double]("water_level") == 2.0)
        assert(math.abs(r.getAs[Double]("water_level_filt") - 2.0) < 1e-9,
          s"row $i")
      }
    }
  }

  test("glx clean: a null-time row leaves the inferred-rate product unchanged") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("glxnull").toFile
    val t0 = java.time.Instant.parse("2024-06-01T00:00:00Z")
    val rows = (0 until 600).map(i => (
      Option(new java.sql.Timestamp(t0.plusSeconds(i).toEpochMilli)),
      if (i >= 100 && i < 130) None else Some(2.0)))
    // no sample_rate/sample_interval: the rate comes from the first deltas
    val meta = graft.core.Meta(Map[String, Any]("filtered_wl" -> "true"))
    def cleaned(name: String,
                in: Seq[(Option[java.sql.Timestamp], Option[Double])]) = {
      val raw = new java.io.File(dir, s"${name}_raw").getAbsolutePath
      in.toDF("time", "water_level").write.parquet(raw)
      val clean = new java.io.File(dir, name).getAbsolutePath
      RunOts.runStep(spark, "glx", "clean", meta, raw, clean)
      spark.read.parquet(clean).orderBy("time").collect().toSeq
    }
    val plain = cleaned("plain", rows)
    assert(plain.length == 600)
    // a clock dropout: the null time sorts first in the rate probe
    assert(cleaned("dropout", rows :+ ((None, Some(2.0)))) == plain)
  }

  test("glx clean: missing ROWS reindex onto the grid and count against tolerance") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("glxgap").toFile
    val t0 = java.time.Instant.parse("2024-06-01T00:00:00Z")
    def write(name: String, skip: Int => Boolean): String = {
      val p = new java.io.File(dir, name).getAbsolutePath
      (0 until 600).filterNot(skip).map(i => (
        new java.sql.Timestamp(t0.plusSeconds(i).toEpochMilli), 2.0))
        .toDF("time", "water_level").write.parquet(p)
      p
    }
    val meta = graft.core.Meta(Map[String, Any](
      "filtered_wl" -> "true", "sample_interval" -> 1.0))
    // 10 s of MISSING rows (< 60 s tolerance): the grid restores them as
    // null rows, the fill bridges them, output re-nulls them
    val raw1 = write("raw1", i => i >= 300 && i < 310)
    val c1p = new java.io.File(dir, "clean1").getAbsolutePath
    RunOts.runStep(spark, "glx", "cdf2nc", meta, raw1, c1p)
    val c1 = spark.read.parquet(c1p).orderBy("time").collect()
    assert(c1.length == 600, s"grid must restore the missing rows: ${c1.length}")
    assert(c1(305).isNullAt(c1(305).fieldIndex("water_level_filt")))
    assert(math.abs(c1(299).getAs[Double]("water_level_filt") - 2.0) < 1e-9)
    // 150 s of missing rows: nearest-fill reaches 60 s in from EACH gap
    // edge, so the middle 30 s stay unfillable -> filtered all-null
    val raw2 = write("raw2", i => i >= 300 && i < 450)
    val c2p = new java.io.File(dir, "clean2").getAbsolutePath
    RunOts.runStep(spark, "glx", "cdf2nc", meta, raw2, c2p)
    val c2 = spark.read.parquet(c2p).collect()
    assert(c2.length == 600)
    assert(c2.forall(_.isNullAt(c2.head.fieldIndex("water_level_filt"))),
      "gap past tolerance must null the whole filtered series")
  }

  test("waterLevelVars: only P_1ac qualifies, and only rsk/hobo/sg families") {
    import spark.implicits._
    val t0 = java.time.Instant.parse("2024-05-01T00:00:00Z")
    val df = (0 until 20).map(i => (
      new java.sql.Timestamp(t0.plusSeconds(i).toEpochMilli), 11.0))
      .toDF("time", "P_1")
    val meta = graft.core.Meta(Map[String, Any](
      "filtered_wl" -> "true", "NAVD88_ref" -> -1.25,
      "sample_interval" -> 1.0))
    // no P_1ac (no atmos correction) -> the reference skips creation
    val out = RunOts.waterLevelVars(df, meta, "rsk")
    assert(!out.columns.contains("water_level_filt") &&
      !out.columns.contains("water_level"))
    // a family that never creates the product is untouched even with P_1ac
    val withAc = df.withColumn("P_1ac",
      org.apache.spark.sql.functions.col("P_1") - 10.0)
    assert(RunOts.waterLevelVars(withAc, meta, "exo").columns
      .sameElements(withAc.columns))
    // hobo keeps BOTH vars (ungated create, filtered added)
    val hobo = RunOts.waterLevelVars(withAc, meta, "hobo")
    assert(hobo.columns.contains("water_level") &&
      hobo.columns.contains("water_level_filt"))
  }

  test("velFilter: per-bin Butterworth with unfiltered copies (sig filter_vel)") {
    import spark.implicits._
    def raw(i: Int): Double =
      math.sin(2 * math.Pi * 0.01 * i) + 0.5 * math.sin(2 * math.Pi * 0.4 * i)
    // 2 bins x 256 samples at 1 Hz — each bin must filter independently
    val rows = for (b <- 0 until 2; i <- 0 until 256) yield (
      new java.sql.Timestamp(1700000000000L + i * 1000L), b,
      raw(i) + b) // bin 1 offset by +1 so cross-bin mixing would show
    val df = rows.toDF("time", "bin", "U")
    val meta = graft.core.Meta(Map[String, Any](
      "vel_filter_method" -> "lowpass", "vel_filter_cut" -> 10.0,
      "sample_interval" -> 1.0))
    val out = RunOts.velFilter(df, meta, Seq("U"), "bins")
    val sos = graft.kernels.Butterworth.lowpass(4, 0.1, 1.0)
    for (b <- 0 until 2) {
      val got = out.filter(s"bin = $b").orderBy("time").collect()
      val want = graft.kernels.Butterworth.filtfilt(sos,
        (0 until 256).map(i => raw(i) + b).toArray)
      assert(got.length == 256)
      for (i <- 0 until 256) {
        assert(math.abs(got(i).getAs[Double]("U") - want(i)) < 1e-9,
          s"bin $b row $i")
        assert(got(i).getAs[Double]("U_unfiltered") == raw(i) + b)
      }
    }
    // no config -> untouched (the reference's silent skip)
    assert(RunOts.velFilter(df, graft.core.Meta(Map.empty[String, Any]),
      Seq("U"), "bins").columns.sameElements(df.columns))
  }

  test("velFilter: burst Butterworth along the sample axis, several components") {
    import spark.implicits._
    def raw(b: Int, i: Int, k: Int): Double =
      math.sin(2 * math.Pi * 0.01 * (k + 1) * i) + 0.5 * math.cos(2 * math.Pi * 0.4 * i) + b
    // 3 bursts x 300 samples at 2 Hz, shuffled: each burst filters alone,
    // in sample order
    val rows = new scala.util.Random(11).shuffle(
      for (b <- 0 until 3; i <- 0 until 300) yield (
        new java.sql.Timestamp(1700000000000L + b * 3600000L), i,
        raw(b, i, 0), raw(b, i, 1), raw(b, i, 2), s"b$b"))
    val df = rows.toDF("time", "sample", "U", "V", "W1", "other")
    val meta = graft.core.Meta(Map[String, Any](
      "vel_filter_method" -> "lowpass", "vel_filter_cut" -> 10.0,
      "sample_rate" -> 2.0))
    val out = RunOts.velFilter(df, meta, Seq("U", "V", "W1", "W2"), "bursts")
    assert(out.columns.toSeq == Seq("time", "sample", "U", "V", "W1", "other",
      "U_unfiltered", "V_unfiltered", "W1_unfiltered"))
    val sos = graft.kernels.Butterworth.lowpass(4, 0.1, 2.0)
    for (b <- 0 until 3) {
      val got = out.filter(s"other = 'b$b'").orderBy("sample").collect()
      assert(got.length == 300)
      for ((v, k) <- Seq("U", "V", "W1").zipWithIndex) {
        val want = graft.kernels.Butterworth.filtfilt(sos,
          (0 until 300).map(i => raw(b, i, k)).toArray)
        for (i <- 0 until 300) {
          assert(java.lang.Double.doubleToLongBits(got(i).getAs[Double](v)) ==
            java.lang.Double.doubleToLongBits(want(i)), s"burst $b $v sample $i")
          assert(got(i).getAs[Double](s"${v}_unfiltered") == raw(b, i, k))
        }
      }
    }
  }

  test("REAL atmpres.cdf aux: clean applies the file's atmpres offset attr") {
    import spark.implicits._
    val ref = "/root/reference/examples/atmpres.cdf"
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(ref)))
    // measurement series inside the met file's range (first sample 3541
    // minutes after 2016-08-01T06:00, 15-min cadence): one P_1 sample on
    // each of 20 met timestamps
    val t0 = java.time.Instant.parse("2016-08-01T06:00:00Z")
      .getEpochSecond * 1000000L
    val rows = (0 until 20).map { i =>
      val us = t0 + (3541L + 15 * i) * 60000000L
      (new java.sql.Timestamp(us / 1000), 12.0 + 0.01 * i)
    }
    val dir = java.nio.file.Files.createTempDirectory("atm").toFile
    val raw = new java.io.File(dir, "raw").getAbsolutePath
    rows.toDF("time", "P_1").write.parquet(raw)
    val clean = new java.io.File(dir, "clean").getAbsolutePath
    val meta = graft.core.Meta(Map("atmpres_file" -> ref))
    RunOts.runStep(spark, "rsk", "clean", meta, raw, clean)
    val c = spark.read.parquet(clean)
    assert(c.count() == 20)
    val r0 = c.orderBy("time").head()
    // atmpres[0] = 10.18, file offset attr = -10.15:
    // P_1ac = 12.0 - 10.18 - (-10.15) = 11.97
    assert(math.abs(r0.getAs[Double]("P_1ac") - (12.0 - 10.18 + 10.15)) < 1e-6,
      s"P_1ac ${r0.getAs[Double]("P_1ac")}")
  }

  test("IQ lifecycle: .mat ingest -> iq clean (atmos, sentinels, bindepth," +
       " trim, snr/vbper fills, renames, two outputs)") {
    import graft.io.Mat5Fixture._
    val nt = 4
    val t0us = (java.time.Instant.parse("2024-02-01T00:00:00Z").getEpochSecond -
      java.time.Instant.parse("2000-01-01T00:00:00Z").getEpochSecond) * 1e6
    val times = (0 until nt).map(i => t0us + i * 600e6)
    // Pressure: sample 2 is effectively dry (P_1ac < bindist -> trim)
    val pres = Seq(12.0, 12.1, 10.3, 12.3)
    // Vel (time x 4 velbeams, mm/s), column-major
    val vel = (0 until 4).flatMap(b => (0 until nt).map(t => 100.0 * b + t))
    // SNR (time x 4): beam 1 below threshold at t=1; others high
    val snr = (0 until 4).flatMap(b => (0 until nt).map(t =>
      if (b == 1 && t == 1) 2.0 else 30.0))
    // Vel_Mean with the raw int sentinel at t=3
    val velMean = Seq(500.0, 510.0, 520.0, -214748368.0)
    val vbper = Seq(90.0, 40.0, 95.0, 92.0) // t=1 below threshold
    val depth = Seq(1.5, 1.6, 1.7, 1.8)
    // Profile_0: 2 bins; Vel sentinel at (t=0,bin=0), Amp 65535 at (t=1,
    // bin=1), VelStd negative at (t=2,bin=0); column-major (time x bins)
    val p0v = Seq(-214748368.0, 11.0, 12.0, 13.0, 20.0, 21.0, 22.0, 23.0)
    val p0a = Seq(50.0, 51.0, 52.0, 53.0, 60.0, 65535.0, 62.0, 63.0)
    val p0s = Seq(1.0, 2.0, -3.0, 4.0, 5.0, 6.0, 7.0, 8.0)
    val blank = (0 until nt).map(_ => 240.0)
    val cs = (0 until nt).map(_ => 100.0)
    val adv = matrixStruct("", Seq(
      "recordSubSampleProfiles" -> matrixNum("", 1, 1, 1.0)))
    val setup = matrixStruct("System_IqSetup", Seq("advancedSetup" -> adv))
    val bytes = matFile(
      matrixNum("FlowData_SampleTime", nt, 1, times: _*),
      matrixNum("FlowData_Pressure", nt, 1, pres: _*),
      matrixNum("FlowData_Depth", nt, 1, depth: _*),
      matrixNum("FlowData_VbPercentGood", nt, 1, vbper: _*),
      matrixNum("FlowData_Vel_Mean", nt, 1, velMean: _*),
      matrixNum("FlowData_Vel", nt, 4, vel: _*),
      matrixNum("FlowData_SNR", nt, 4, snr: _*),
      matrixNum("Profile_0_Vel", nt, 2, p0v: _*),
      matrixNum("Profile_0_Amp", nt, 2, p0a: _*),
      matrixNum("Profile_0_VelStd", nt, 2, p0s: _*),
      matrixNum("FlowSubData_PrfHeader_0_BlankingDistance", nt, 1, blank: _*),
      matrixNum("FlowSubData_PrfHeader_0_CellSize", nt, 1, cs: _*),
      setup)
    val dir = java.nio.file.Files.createTempDirectory("iq_clean").toFile
    val mat = new java.io.File(dir, "dep.mat")
    java.nio.file.Files.write(mat.toPath, bytes)
    val raw = new java.io.File(dir, "raw").getAbsolutePath
    val meta = graft.core.Meta(Map(
      "atmpres" -> 10.0, "orientation" -> "UP",
      "trim_method" -> "water level", "snr_threshold" -> 5.0,
      "vbper_threshold" -> 50.0,
      "height_above_geopotential_datum" -> 2.5,
      "initial_instrument_height" -> 0.5))
    RunOts.runStep(spark, "iq", "mat2cdf", meta, mat.getAbsolutePath, raw)
    val clean = new java.io.File(dir, "clean").getAbsolutePath
    RunOts.runStep(spark, "iq", "cdf2nc", meta, raw, clean)

    val flow = spark.read.parquet(clean).orderBy("time").collect()
    val cols = spark.read.parquet(clean).columns
    assert(flow.length == nt)
    // renames: Pressure -> P_1, Pressure_ac -> P_1ac, Depth -> D_3;
    // the 4-wide Vel array splits to vel1_1277.. then drops
    assert(cols.contains("P_1") && cols.contains("P_1ac") && cols.contains("D_3"))
    assert(!cols.contains("Vel") && cols.contains("vel1_1277") &&
      cols.contains("vel4_1280"))
    def d(r: org.apache.spark.sql.Row, c: String): Double =
      r.getAs[Double](cols.indexOf(c))
    // atmos scalar fallback: P_1ac = P - 10.0
    assert(math.abs(d(flow(0), "P_1ac") - 2.0) < 1e-9)
    // vel_to_ms + per-beam split: vel2_1278(t=0) = 100/1000
    assert(math.abs(d(flow(0), "vel2_1278") - 0.1) < 1e-12)
    // fill_snr: beam-2 series nulled at t=1 (SNR 2.0 < 5), kept at t=0
    assert(flow(1).isNullAt(cols.indexOf("vel2_1278")))
    assert(!flow(0).isNullAt(cols.indexOf("vel2_1278")))
    // Vel_Mean: sentinel at t=3 gone; t=1 masked via the snr-nulled beam
    assert(flow(3).isNullAt(cols.indexOf("Vel_Mean")))
    assert(flow(1).isNullAt(cols.indexOf("Vel_Mean")))
    assert(math.abs(d(flow(0), "Vel_Mean") - 0.5) < 1e-12)
    // fill_vbper: D_3 nulled where VbPercentGood (40) <= 50
    assert(flow(1).isNullAt(cols.indexOf("D_3")))
    assert(math.abs(d(flow(0), "D_3") - 1.5) < 1e-12)
    // flow z = datum + instrument height
    assert(math.abs(d(flow(0), "z") - 3.0) < 1e-12)

    val prof = spark.read.parquet(clean + "_profiles")
    val pc = prof.columns
    val pr = prof.orderBy("time", "bin").collect()
    assert(pr.length == nt * 2)
    def pd(r: org.apache.spark.sql.Row, c: String): Double =
      r.getAs[Double](pc.indexOf(c))
    // clean_iq sentinels: Vel (t0,bin0), Amp (t1,bin1), VelStd (t2,bin0)
    assert(pr(0).isNullAt(pc.indexOf("Vel")))
    assert(pr(3).isNullAt(pc.indexOf("Amp")))
    assert(pr(4).isNullAt(pc.indexOf("VelStd")))
    // vel_to_ms on the surviving profile vel: (t0,bin1) = 20/1000
    assert(math.abs(pd(pr(1), "Vel") - 0.02) < 1e-12)
    // bindepth (UP) = P_1ac - bindist; bindist(bin0) = .34, bin1 = .44
    assert(math.abs(pd(pr(1), "bindepth") - (2.0 - 0.44)) < 1e-9)
    // profile z (UP) = 2.5 + 0.5 + bindist
    assert(math.abs(pd(pr(1), "z") - (3.0 + 0.44)) < 1e-9)
    // trim "water level": t=2 P_1ac = 0.3 < bindist -> Vel nulled, and
    // surviving samples keep theirs
    assert(pr(5).isNullAt(pc.indexOf("Vel")))
    assert(!pr(7).isNullAt(pc.indexOf("Vel")))
    // flow-side join scaffolding does not leak into the product
    assert(!pc.exists(_.startsWith("__f_")))
    assertProduct(raw, s"Ingested ${mat.getAbsolutePath} (IQ flow).")
    assertProduct(raw + "_profiles", s"Ingested ${mat.getAbsolutePath} (IQ profiles).")
    assertProduct(clean, "Clipped, corrected, QA/QC applied (IQ flow).")
    assertProduct(clean + "_profiles",
      "Clipped, corrected, QA/QC applied (IQ profiles).")
  }

  test("lisst clean: burst inference reshapes both frames, truncates the" +
       " partial tail") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("lisst_b").toFile
    val raw = new java.io.File(dir, "raw").getAbsolutePath
    // 2 bursts of 4 samples at 1 s cadence, 10 min apart, plus a 2-sample
    // partial tail; one depth spike for the qaqc trim
    val t0 = java.time.Instant.parse("2024-02-01T00:00:00Z").getEpochSecond
    val times = (0 until 4).map(t0 + _) ++ (0 until 4).map(t0 + 600 + _) ++
      Seq(t0 + 1200, t0 + 1201)
    val depth = times.zipWithIndex.map { case (_, i) =>
      if (i == 5) 999.0 else 2.0 + 0.01 * i }
    times.zip(depth).map { case (s, d) =>
      (new java.sql.Timestamp(s * 1000), d) }.toSeq
      .toDF("time", "depth").write.parquet(raw)
    times.flatMap(s => Seq(1, 2).map(r =>
      (new java.sql.Timestamp(s * 1000), r, 0.5 * r))).toSeq
      .toDF("time", "ring", "vc").write.parquet(raw + "_vc")
    val meta = graft.core.Meta(Map(
      "operating_mode" -> "burst", "depth_max" -> 100.0))
    val clean = new java.io.File(dir, "clean").getAbsolutePath
    RunOts.runStep(spark, "lisst", "clean", meta, raw, clean)
    val df = spark.read.parquet(clean)
    // partial tail dropped; (time, sample) carry the burst shape
    assert(df.count() == 8)
    val cols = df.columns
    assert(cols.contains("sample"))
    val r = df.orderBy("time", "sample").collect()
    assert(r.map(_.getInt(cols.indexOf("sample"))).toSeq ==
      Seq(0, 1, 2, 3, 0, 1, 2, 3))
    // burst-start time replaces per-sample time
    assert(r(3).getTimestamp(cols.indexOf("time")).toInstant.toString ==
      "2024-02-01T00:00:00Z")
    assert(r(4).getTimestamp(cols.indexOf("time")).toInstant.toString ==
      "2024-02-01T00:10:00Z")
    // qaqc max trim hit the spike (burst 1, sample 1)
    assert(r(5).isNullAt(cols.indexOf("depth")))
    // vc frame shares the map: 8 kept times x 2 rings
    val vc = spark.read.parquet(clean + "_vc")
    assert(vc.count() == 16)
    assert(vc.columns.contains("sample"))
    assertProduct(clean, "Clipped, QA/QC applied (LISST scalars).")
    assertProduct(clean + "_vc", "Clipped, QA/QC applied (LISST vc rings).")
  }

  test("lisst clean: a null-time row leaves the burst-mode products unchanged") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("lisst_null").toFile
    // 2 bursts of 4 samples at 1 s cadence, 10 min apart
    val t0 = java.time.Instant.parse("2024-02-01T00:00:00Z").getEpochSecond
    val times = ((0 until 4).map(t0 + _) ++ (0 until 4).map(t0 + 600 + _))
      .map(s => Option(new java.sql.Timestamp(s * 1000)))
    val meta = graft.core.Meta(Map("operating_mode" -> "burst"))
    def cleaned(name: String, ts: Seq[Option[java.sql.Timestamp]]) = {
      val raw = new java.io.File(dir, s"${name}_raw").getAbsolutePath
      ts.zipWithIndex.map { case (t, i) => (t, 2.0 + 0.01 * i) }
        .toDF("time", "depth").write.parquet(raw)
      ts.flatMap(t => Seq(1, 2).map(r => (t, r, 0.5 * r)))
        .toDF("time", "ring", "vc").write.parquet(raw + "_vc")
      val clean = new java.io.File(dir, name).getAbsolutePath
      RunOts.runStep(spark, "lisst", "clean", meta, raw, clean)
      (spark.read.parquet(clean).orderBy("time", "sample").collect().toSeq,
        spark.read.parquet(clean + "_vc").orderBy("time", "sample", "ring")
          .collect().toSeq)
    }
    val plain = cleaned("plain", times)
    assert(plain._1.length == 8 && plain._2.length == 16)
    // a clock dropout: the null time sorts first in the cadence probe
    assert(cleaned("dropout", times :+ None) == plain)
  }

  test("lisst clean on a remote-scheme input fails loudly instead of" +
       " silently dropping the _vc product") {
    val meta = graft.core.Meta(Map("operating_mode" -> "continuous"))
    val e = intercept[IllegalArgumentException] {
      RunOts.runStep(spark, "lisst", "clean", meta,
        "s3://bucket/deploy/raw", "/tmp/never-written")
    }
    assert(e.getMessage.contains("cannot check s3:// storage"))
  }

  test("eofe clean on a remote-scheme input fails loudly (before any " +
       "output) instead of silently dropping the _profiles product") {
    val e = intercept[IllegalArgumentException] {
      RunOts.eofeClean(spark, graft.core.Meta(Map.empty[String, Any]),
        "hdfs://nn/deploy/raw", "/tmp/never-written")
    }
    assert(e.getMessage.contains("cannot check hdfs:// storage"))
    assert(e.getMessage.contains("_profiles"))
  }

  test("son/abss ingest dispatch on a remote-scheme input fails loudly " +
       "instead of silently mis-routing to the single-file path") {
    for (inst <- Seq("son", "abss")) {
      val e = intercept[IllegalArgumentException] {
        RunOts.ingest(spark, graft.core.Meta(Map.empty[String, Any]),
          "s3://bucket/deploydir", "/tmp/never-written", inst)
      }
      assert(e.getMessage.contains("cannot check s3:// storage"), inst)
    }
  }

  test("sibling probes resolve file: URIs to the local path (a raw " +
       "java.io.File probe would report file:///… as absent)") {
    val dir = java.nio.file.Files.createTempDirectory("runots_fileuri")
    val sib = dir.resolve("raw_vc")
    java.nio.file.Files.createFile(sib)
    val uri = dir.resolve("raw").toUri.toString // file:///…/raw
    assert(uri.startsWith("file:"))
    assert(RunOts.probeFile(uri + "_vc", "test sibling").exists)
    assert(!RunOts.probeFile(uri + "_profiles", "test sibling").exists)
    // Spark/Hadoop also emit the single-slash (file:/p) and
    // localhost-authority (file://localhost/p) forms — both must resolve,
    // not silently probe the literal string
    val plain = dir.resolve("raw").toString
    assert(RunOts.probeFile("file:" + plain + "_vc", "test sibling").exists)
    assert(RunOts.probeFile("file://localhost" + plain + "_vc",
      "test sibling").exists)
    // a file: URI with a REAL remote authority cannot be local — loud
    val bad = intercept[IllegalArgumentException] {
      RunOts.probeFile("file://nfs-host" + plain + "_vc", "test sibling")
    }
    assert(bad.getMessage.contains("cannot resolve"))
  }

  test("met chain: a frame carrying both the WXT-native and generic " +
       "wind families never produces duplicate EPIC columns") {
    import spark.implicits._
    val df = Seq(
      ("2024-02-01 00:00:00", 120.0, 118.0, 4.0),
      ("2024-02-01 00:10:00", 130.0, 131.0, 5.0))
      .toDF("ts", "WXTDm", "WindDir_avg", "WindSpeed_avg")
      .withColumn("time", org.apache.spark.sql.functions.to_timestamp(
        org.apache.spark.sql.functions.col("ts"))).drop("ts")
    val meta = graft.core.Meta(Map("instrument_type" -> "wxt"))
    val out = RunOts.metChain(spark, df, meta)
    assert(out.columns.count(_ == "WD_410") == 1)
    // first match (WXT-native) wins; the generic column is left as-is
    assert(out.columns.contains("WindDir_avg"))
    assert(out.select("WD_410").orderBy("time").collect()
      .map(_.getDouble(0)).toSeq == Seq(120.0, 130.0))
  }

  test("met lifecycle: TOA5 ingest -> met chain (renames, mode-interval" +
       " gap fill, qaqc-then-direction corrections)") {
    val dir = java.nio.file.Files.createTempDirectory("runots_met").toFile
    val csv = new java.io.File(dir, "met.dat")
    val w = new java.io.PrintWriter(csv)
    w.println("\"TOA5\",\"stn\",\"CR1000\",\"1\",\"x\",\"y\",\"z\",\"Tbl\"")
    w.println("\"TIMESTAMP\",\"RECORD\",\"WindDir_avg\",\"WindSpeed_avg\",\"Temp\"")
    w.println("\"TS\",\"RN\",\"deg\",\"m/s\",\"C\"")
    w.println("\"\",\"\",\"Avg\",\"Avg\",\"Avg\"")
    // 10-min cadence with ONE missing row (00:20) -> gap fill re-creates
    // it as an all-null row; WD 350 + magvar 15 wraps past 360
    val rows = Seq(
      ("2024-02-01 00:00:00", 1, 350.2, 5.0, 12.0),
      ("2024-02-01 00:10:00", 2, 10.6, 5.5, 12.1),
      ("2024-02-01 00:30:00", 4, 20.0, 6.0, 12.3),
      ("2024-02-01 00:40:00", 5, 30.0, 99999.0, 12.4)) // speed spike
    rows.foreach { case (ts, rn, wd, ws, t) =>
      w.println(s""""$ts",$rn,$wd,$ws,$t""") }
    w.close()
    val meta = graft.core.Meta(Map(
      "instrument_type" -> "wxt", "magnetic_variation" -> 15.0,
      "WS_401_max" -> 100.0))
    val raw = new java.io.File(dir, "raw").getAbsolutePath
    val clean = new java.io.File(dir, "clean").getAbsolutePath
    RunOts.runStep(spark, "met", "ingest", meta, csv.getAbsolutePath, raw)
    RunOts.runStep(spark, "met", "clean", meta, raw, clean)
    val df = spark.read.parquet(clean)
    val cols = df.columns
    // WXT renames applied; RECORD dropped (met_drop_vars)
    assert(cols.contains("WD_410") && cols.contains("WS_401") &&
      cols.contains("T_21") && !cols.contains("RECORD"))
    // gap fill: 5 grid rows at 10-min mode interval, 00:20 all-null
    val r = df.orderBy("time").collect()
    assert(r.length == 5, s"rows ${r.length}")
    assert(r(2).getTimestamp(cols.indexOf("time")).toInstant.toString ==
      "2024-02-01T00:20:00Z")
    assert(r(2).isNullAt(cols.indexOf("WD_410")))
    // declination + banker's round + wrap: 350.2 + 15 = 365.2 -> 5.0
    assert(r(0).getAs[Double](cols.indexOf("WD_410")) == 5.0)
    // 10.6 + 15 = 25.6 -> 26
    assert(r(1).getAs[Double](cols.indexOf("WD_410")) == 26.0)
    // qaqc max trim removed the speed spike BEFORE direction math
    assert(r(4).isNullAt(cols.indexOf("WS_401")))
    assert(r(4).getAs[Double](cols.indexOf("WD_410")) == 45.0)
  }

  test("dedicated clean chains tolerate minimal inputs (absent optional" +
       " columns and attrs)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("chains_min").toFile
    def p(n: String) = new java.io.File(dir, n).getAbsolutePath
    val t0 = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")

    // IQ: flow with only time+a velocity-free scalar, profiles with the
    // ingest spine — no SNR, no Vel_Mean, no Pressure, no thresholds
    Seq((t0, 1.5), (t0, 1.6)).toDF("time", "Depth")
      .write.parquet(p("iqraw"))
    Seq((t0, 0, 0, 0.4, 5.0)).toDF("time", "beam", "bin", "bindist", "Vel")
      .write.parquet(p("iqraw_profiles"))
    RunOts.iqClean(spark, graft.core.Meta(Map.empty[String, Any]),
      p("iqraw"), p("iqclean"))
    assert(spark.read.parquet(p("iqclean")).count() == 2)
    assert(spark.read.parquet(p("iqclean_profiles")).count() == 1)

    // ABSS: abs spine without amp/mean_abs, aux with only time+sample —
    // no Pressure channel, no scale attrs, no brange
    Seq((t0, 1L, 1.0, 0, 0.3, 0, 0.5))
      .toDF("time", "burst_number", "xdcr_freq", "bin", "bindist",
        "sample", "abs").write.parquet(p("abraw"))
    Seq((t0, 0), (t0, 1)).toDF("time", "aux_sample")
      .write.parquet(p("abraw_aux"))
    RunOts.abssClean(spark, graft.core.Meta(Map.empty[String, Any]),
      p("abraw"), p("abclean"))
    assert(spark.read.parquet(p("abclean")).count() == 1)
    assert(spark.read.parquet(p("abclean-a")).count() == 1)

    // EofE: point frame without altitude/temperature, no header attrs,
    // no profile sibling
    Seq((t0, 0L, 0L, 0.2)).toDF("time", "burst", "sample", "pitchDeg")
      .write.parquet(p("earaw"))
    RunOts.eofeClean(spark, graft.core.Meta(Map.empty[String, Any]),
      p("earaw"), p("eaclean"))
    assert(spark.read.parquet(p("eaclean")).columns.contains("Ptch_1216"))
    assert(spark.read.parquet(p("eaclean-a")).count() == 1)
    assert(!new java.io.File(p("eaclean_profiles")).exists)
  }

}
