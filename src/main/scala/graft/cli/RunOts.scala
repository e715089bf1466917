package graft.cli

import graft.core.Meta
import graft.io.{Config, Dialects, Netcdf3, Readers, Rsk, Sink}
import graft.ops.{Burst, Clip, ProfileTrims, Qaqc, Spectra, Trims}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The runots-shaped CLI (SURVEY §3): one entry point fronting
 * (instrument, step) pipelines, driven by the merged gatts+YAML config —
 * the reference's `runots <inst> <step>` dispatch
 * (stglib/core/runcmd.py:527-613).
 *
 * Steps implement the reference lifecycle:
 *   ingest : instrument file → EPIC/CF long-format parquet ("-raw")
 *   clean  : raw → clip → atmos-correct → call_qaqc → stats → parquet ("b")
 *   waves  : clean → burst reshape → Welch wave statistics → trims ("s-a")
 *   diwasp : clean → burst reshape → DIWASP directional statistics (+ grid)
 *   export : any product → netCDF-3 classic / CDF-5 / netCDF-4 file
 *   turnaround : instrument file → quick-look netCDF + QA summary parquet
 *   nc2xy  : sweep-averaged sonar product → x/y-regridded images
 *
 * Every parquet product goes through one sink, [[write]].
 *
 * rsk ingest → clean → waves is the minimum end-to-end slice of SURVEY
 * §7.3 (the RBR pressure-logger wave chain: stglib/rsk/csv2cdf.py:11 →
 * rsk/cdf2nc.py:8 → rsk/nc2waves.py:9 → core/waves.py:571).
 */
object RunOts {

  def main(args: Array[String]): Unit = {
    if (args.length < 5) {
      System.err.println(
        "usage: RunOts <instrument> <step> <gatts> <yaml> <input> [output]")
      sys.exit(2)
    }
    val Array(instrument, step, gattsPath, yamlPath, input) = args.take(5)
    val output = if (args.length > 5) args(5) else input + s".$step"
    val spark = graft.Sessions.at(sys.env.getOrElse("SPARK_MASTER", "local[8]"), 8)
    val (meta, collisions) = Config.merge(
      Config.readGlobalAttsFile(gattsPath), Config.readYamlFile(yamlPath))
    collisions.foreach(k => System.err.println(s"[runots] config overrides gatts key: $k"))
    runStep(spark, instrument, step, meta, input, output)
    spark.stop()
  }

  /** Dispatch table — (instrument, step) → pipeline. Instruments sharing the
    * CSV family route to the same implementations (the reference's registry
    * pattern, stglib/core/runcmd.py:527-599). */
  def runStep(spark: SparkSession, instrument: String, step0: String,
              meta: Meta, input: String, output: String): Unit = {
    // the reference's own step names dispatch verbatim (runcmd.py registry:
    // csv2cdf/mat2cdf/hdr2cdf/raw2cdf/dat2cdf/wad2cdf/log2cdf/tid2cdf/
    // wb2cdf/asc2cdf -> ingest; cdf2nc -> clean; nc2waves -> waves;
    // nc2diwasp -> diwasp) so a stglib user types the same commands
    val ingestSteps = Set("csv2cdf", "mat2cdf", "hdr2cdf", "raw2cdf",
      "dat2cdf", "wad2cdf", "log2cdf", "tid2cdf", "wb2cdf", "asc2cdf")
    val step = step0 match {
      case s if ingestSteps(s) => "ingest"
      case "cdf2nc" => "clean"
      case "nc2waves" => "waves"
      case "nc2diwasp" => "diwasp"
      case other => other // unknown names still error in the match below
    }
    // deployment-sized shuffle width for the WHOLE step: every exchange a
    // chain plans (grid joins, as-of fills, window/agg shuffles) inherits
    // spark.sql.shuffle.partitions, so a fixed session width turns a
    // growing deployment into growing per-task sorts — the proven ×100
    // spill tail (SCALING.md r17: the same plans run 2-2.4× faster once
    // the sorts stop spilling). Sized from the input's on-disk bytes
    // (~10 MB of parquet per partition ≈ ~32 MB decompressed), floored at
    // the session setting, capped at 4096; restored after the step. On a
    // real cluster this is the ops knob every job sets per input — here
    // the CLI IS the job entry point, so it owns the knob.
    val prevWidth = spark.conf.get("spark.sql.shuffle.partitions")
    val inBytes = stepInputBytes(input)
    val scaled = math.max(prevWidth.toInt,
      math.min(inBytes / (10L << 20) + 1L, 4096L).toInt)
    spark.conf.set("spark.sql.shuffle.partitions", scaled)
    try step match {
      case "ingest" => ingest(spark, meta, input, output, instrument)
      case "clean"  => clean(spark, meta, input, output, instrument)
      case "waves"  => waves(spark, meta, input, output)
      case "diwasp" => diwasp(spark, meta, input, output)
      case "export" => export(spark, meta, input, output)
      case "turnaround" => turnaround(spark, meta, input, output, instrument)
      case "nc2xy" => sonXy(spark, meta, input, output)
      case other    => throw new IllegalArgumentException(s"unknown step $other")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevWidth)
      // batch-completion cache hygiene: each CLI step is an independent
      // batch, so shared() plans persisted while building it are released
      // deterministically (the Spread.release contract) instead of
      // pinning executor memory for the life of the session
      graft.ops.Spread.release(spark)
    }
  }

  /** Total on-disk bytes of a step's input: the path itself (file or
    * directory, recursive) plus the `_profiles` sibling some families
    * carry. Local-FS only by contract of the CLI fixtures; remote URIs
    * return 0 and the width stays at the session setting. */
  private def stepInputBytes(input: String): Long = {
    def sizeOf(p: java.io.File): Long =
      if (p.isDirectory)
        Option(p.listFiles).getOrElse(Array.empty).map(sizeOf).sum
      else if (p.isFile) p.length
      else 0L
    val f = new java.io.File(input)
    sizeOf(f) + sizeOf(new java.io.File(input + "_profiles"))
  }

  // the Config charset policy (UTF-8, Latin-1 fallback, BOM strip): real
  // instrument exports carry degree signs and µ, which a US-ASCII decode
  // replaces with U+FFFD
  private def readText(path: String): String =
    graft.io.Config.readTextFile(path)

  /** Step input: the canonical parquet intermediates, or a netCDF
    * product of either family (the reference re-opens .cdf/.nc at every
    * cdf2nc/nc2waves step; users with existing archives skip the
    * conversion). */
  private def isNetcdfPath(input: String): Boolean = {
    val l = input.toLowerCase
    l.endsWith(".nc") || l.endsWith(".cdf") || l.endsWith(".h5")
  }

  private def readStepInput(spark: SparkSession, input: String): DataFrame =
    if (isNetcdfPath(input)) Readers.readNetcdf(spark, input)
    else spark.read.parquet(input)

  /** Effective step metadata — config > parquet sidecar > the netCDF
    * file's own global attrs (the reference re-reads ds.attrs from the
    * file at EVERY cdf2nc/nc2waves step, stglib/core/utils.py:862-877),
    * so a .nc product carrying sample_interval/wave params drives
    * waves/diwasp/export without re-stating them in config. */
  private def stepMeta(meta0: Meta, input: String): Meta = {
    val fileAttrs: Map[String, Any] =
      if (isNetcdfPath(input)) Readers.netcdfGlobalAttrs(input) else Map.empty
    Meta(fileAttrs ++ (Sink.readSidecar(input): Map[String, Any]) ++ meta0.attrs)
  }

  private def readBytes(path: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))

  /** Sibling/directory probes read the LOCAL filesystem. Plain paths
    * map directly; `file:` URIs in EVERY form Hadoop/Spark emits
    * (`file:///p`, `file:/p`, `file://localhost/p`) resolve to their
    * local path (java.io.File on the raw URI string would always report
    * absent, and File(URI) rejects an authority component); any other
    * scheme (s3://, hdfs://…) fails LOUDLY — a silently-absent probe
    * would drop a product (_vc/_profiles) or mis-route a deployment
    * directory to the single-file path. */
  private[cli] def probeFile(path: String, what: String): java.io.File = {
    // single `:/` (not `://`) so Spark's `file:/p` form is caught too
    val SchemeRe = "^([A-Za-z][A-Za-z0-9+.-]*):/.*".r
    path match {
      case SchemeRe("file") =>
        val uri = java.net.URI.create(path)
        require(uri.getPath != null && uri.getPath.nonEmpty &&
            (uri.getAuthority == null || uri.getAuthority.isEmpty ||
              uri.getAuthority == "localhost"),
          s"$path: cannot resolve this file: URI to a local path for the " +
            s"$what probe")
        new java.io.File(uri.getPath)
      case SchemeRe(s) => throw new IllegalArgumentException(
        s"$path: the $what probe reads via java.io.File and cannot check " +
          s"$s:// storage; stage the deployment locally")
      case _ => new java.io.File(path)
    }
  }

  /** Config-driven EPIC renames (`rename_<col>: <EPIC name>`) — the
    * reference hardcodes the map per instrument family. */
  private def applyRenames(df: DataFrame, meta: Meta): DataFrame = {
    var renamed = df
    meta.attrs.foreach { case (k, v) =>
      if (k.startsWith("rename_") &&
          renamed.columns.contains(k.stripPrefix("rename_")))
        renamed = renamed.withColumnRenamed(k.stripPrefix("rename_"), v.toString)
    }
    renamed
  }

  /** The one product sink: full-precision parquet whose attrs sidecar
    * stamps `note` onto `history` (stglib/core/utils.py:238-250) at a
    * fixed epoch, so reruns are byte-identical. */
  private def write(df: DataFrame, path: String, meta: Meta,
                    note: String): Unit =
    Sink.writeParquet(df, path,
      Sink.insertHistory(meta, note, "1970-01-01T00:00:00Z"), float32 = false)

  /** One raw ingest product: config renames → `shift` → clock error →
    * [[write]] with sidecar attrs `side`. Only the IQ family shifts (to
    * the flow-sample middle); a frame with no `time` column (burst-indexed
    * .wad) has no clock to correct. */
  private def writeRaw(df: DataFrame, shift: DataFrame => DataFrame,
                       path: String, meta: Meta, side: Meta,
                       note: String): Unit = {
    val renamed = shift(applyRenames(df, meta))
    write(if (renamed.columns.contains("time"))
        Readers.applyClockError(renamed, "time", meta) else renamed,
      path, side, note)
  }

  /** A derived product's path: `tag` goes before a `.parquet` suffix
    * (`out.parquet` → `out-a.parquet`), else after the path. */
  private def sibling(output: String, tag: String): String =
    if (output.endsWith(".parquet"))
      output.stripSuffix(".parquet") + tag + ".parquet"
    else output + tag

  /** Instrument file → renamed, clock-corrected long-format raw parquet.
    * Native `.rsk` (SQLite) deployments route to the binary reader; binary
    * instrument families (.pd0/.81R/.hdr/.vhd/.wad/.mat) route to their
    * dedicated decoders; the CSV family goes through the framework reader
    * (reference registry pattern, stglib/core/runcmd.py:527-599). */
  def ingest(spark: SparkSession, meta: Meta, input: String, output: String,
             instrument: String = ""): Unit = {
    val lower = input.toLowerCase
    if (lower.endsWith(".mat") && instrument == "sig") {
      sigIngest(spark, meta, input, output); return
    }
    if (lower.endsWith(".mat") && instrument == "iq") {
      iqIngest(spark, meta, input, output); return
    }
    if (instrument == "son" &&
        probeFile(input, "son sweep-directory").isDirectory) {
      sonDirIngest(spark, meta, input, output); return
    }
    if (lower.endsWith(".vel") &&
        (instrument.isEmpty || instrument == "argonaut")) {
      // SonTek Argonaut profile deployment: .vel/.snr/.std tables + .ctl
      // geometry + optional .dat Level (stglib/argonaut.py:44-131).
      // Gated on the instrument key so a future family whose input ends
      // in .vel is never silently routed here; bare-extension fallback
      // only when no instrument is configured
      val base = input.stripSuffix(".vel")
      val datPath = java.nio.file.Paths.get(base + ".dat")
      val df = Dialects.readArgonautProfile(spark,
        readText(input), readText(base + ".snr"), readText(base + ".std"),
        readText(base + ".ctl"),
        if (java.nio.file.Files.exists(datPath)) Some(base + ".dat") else None)
      writeRaw(df, identity, output, meta, meta,
        s"Ingested $input (Argonaut profiles).")
      return
    }
    if (lower.endsWith(".log") &&
        (instrument.isEmpty || instrument == "eofe" || instrument == "ea")) {
      // EofE ECHOLOGGER: per-ping point annotations plus, when the log
      // carries ##DataStart echo counts, the (burst, sample, bin) profile
      // frame — the reference's `bins` branch (eofe.py:50-57,262-283).
      // Header EA* attrs merge into the sidecar (log_to_cdf
      // write_metadata) so the clean chain sees Deadzone/Range/SoundSpeed
      // /Bin_size.
      val bytes = readBytes(input)
      val text = new String(bytes, "US-ASCII")
      val em = graft.io.Eofe.instMeta(text.linesIterator)
      val point = graft.io.Eofe.readPoint(spark, bytes)
        .withColumn("time", to_timestamp(col("timeUtc"))).drop("timeUtc")
      val side = Meta(meta.attrs ++ em)
      writeRaw(point, identity, output, meta, side, s"Ingested $input.")
      if (text.contains("##DataStart")) {
        // per-bin echo counts keyed back to the ping times
        val prof = graft.io.Eofe.readProfile(spark, bytes)
          .join(point.select("burst", "sample", "time"), Seq("burst", "sample"))
        writeRaw(prof, identity, output + "_profiles", meta, side,
          s"Ingested $input.")
      }
      return
    }
    if (instrument == "abss" &&
        (lower.endsWith(".mat") ||
          probeFile(input, "ABS deployment-directory").isDirectory)) {
      // AQUAscat: one .mat per burst in a deployment dir (stglib/abss.py)
      val inFile = probeFile(input, "ABS deployment-directory")
      val dir = if (inFile.isDirectory) inFile.getPath else inFile.getParent
      val abss = graft.io.Abss.ingest(spark, dir)
      writeRaw(abss.abs, identity, output, meta, meta,
        s"Ingested $dir (ABS bursts).")
      writeRaw(abss.aux, identity, output + "_aux", meta, meta,
        s"Ingested $dir (ABS aux).")
      return
    }
    var sidecarExtra: Map[String, Any] = Map.empty
    val df =
      if (lower.endsWith(".pd0") || lower.endsWith(".000")) {
        // RDI ADCP binary ensembles (stglib/rdi/rdiadcpy.py)
        graft.io.Pd0.read(spark, input)
          .withColumn("time", expr("timestamp_micros(timeUs)"))
      } else if (lower.endsWith(".81r")) {
        // Imagenex rotary sonar (stglib/son/raw2cdf.py). The 13-char header
        // time field is YYYYHHMMSS.f; month+day come from the FILENAME's
        // mmddHHMM.81R suffix (sonutils.py:25-76 parses
        // month_day + header[14:27] as %m%d%Y%H%M%S.%f).
        import spark.implicits._
        val name = new java.io.File(input).getName
        val md = if (name.length >= 12) name.slice(name.length - 12, name.length - 8)
                 else "0101"
        spark.createDataset(graft.io.Son81R.decode(readBytes(input)).toSeq)
          .toDF()
          .withColumn("time", to_timestamp(concat(
            substring(col("timeRaw"), 1, 4), lit(s"-${md.take(2)}-${md.drop(2)} "),
            substring(col("timeRaw"), 5, 2), lit(":"),
            substring(col("timeRaw"), 7, 2), lit(":"),
            substring(col("timeRaw"), 9, 5))))
      } else if (lower.endsWith(".hdr")) {
        // Aquadopp profiler: .hdr config + .sen system + .aN/.vN/.cN
        // matrices (stglib/aqd/hdr2cdf.py, hrhdr2cdf.py). Header-derived
        // attrs (coordinate system, TransMatrix, cell geometry) merge into
        // the sidecar so `clean` can run the HR velocity chain.
        val (d, hdrAttrs) = aquadoppIngest(spark, meta, input)
        sidecarExtra = hdrAttrs
        d
      } else if (lower.endsWith(".vhd")) {
        // Vector velocimeter: .vhd burst headers + .dat samples
        // (stglib/vec/dat2cdf.py:103-260)
        val base = input.stripSuffix(".vhd")
        val vhd = graft.io.Vector.readVhd(spark, readText(input))
        val dat = graft.io.Vector.readDat(spark, readText(base + ".dat"))
        val rate = meta.dbl("VECSamplingRate").getOrElse(8.0)
        graft.io.Vector.withBurstTime(dat, vhd, samplingRateHz = rate)
      } else if (lower.endsWith(".wad")) {
        // Aquadopp waves burst samples (stglib/aqd/wvswad2cdf.py:152-206)
        val nsamps = meta.int("WaveNumberOfSamples").getOrElse(1024)
        val coord = meta.str("AQDCoordinateSystem").getOrElse("BEAM")
        graft.io.Aquadopp.readWad(spark, readText(input), nsamps, coord)
      } else if (lower.endsWith(".mat")) {
        // MAT5 instrument families (sig/iq/rdi/abss mat2cdf)
        matIngest(spark, meta, input, instrument)
      } else if (lower.endsWith(".rsk")) {
        val bytes = readBytes(input)
        // tstamp is ms epoch (rsk2cdf.py); channelNN→EPIC names come from
        // config keys `rename_<channel>` (the reference hardcodes channel01=
        // pressure per instrument family)
        val d = Rsk.readSeries(spark, bytes)
          .withColumn("time", expr("timestamp_millis(tstamp)")).drop("tstamp")
        // renames must precede CF metadata: cfAttrs is keyed by EPIC names
        Readers.withCfMetadata(applyRenames(d, meta))
      } else if (lower.endsWith(".tid")) {
        Dialects.read(spark, input, Dialects.tid)
      } else if (isNetcdfPath(input)) {
        // re-open a netCDF product of either family — netCDF-4/HDF5
        // (incl. chunked/DEFLATE) or classic CDF-1/CDF-5 — the reference's
        // xr.load_dataset round trip (stglib/core/utils.py:862-877)
        Readers.readNetcdf(spark, input)
      } else if (lower.endsWith(".wb")) {
        graft.io.Seagauge.readWb(spark, new String(readBytes(input), "US-ASCII"))
          .withColumn("time", expr("timestamp_seconds(startTime)"))
          .withColumnRenamed("p_dbar", "P_1")
      } else if (instrument == "lisst") {
        // LISST-200X: scalar engineering vars to `output`, long-format
        // (time, ring, vc) with the broadcast ring-size dim table to
        // `output`_vc (stglib/lisst.py:92-165 + get_ringsizes)
        val text = readText(input)
        writeRaw(graft.io.Lisst.readScalars(spark, text), identity, output,
          meta, meta, s"Ingested $input (LISST scalars).")
        writeRaw(graft.io.Lisst.readVolumeConcentration(spark, text), identity,
          output + "_vc", meta, meta, s"Ingested $input (LISST vc rings).")
        return
      } else {
        // instrument-keyed text dialects (the reference's per-instrument
        // csv2cdf entry points, stglib/core/runcmd.py:527-599); any other
        // instrument falls to the generic EPIC-rename CSV framework
        Dialects.of(spark, instrument, meta, input)
          .fold(Readers.readInstrumentCsv(spark, input, meta))(Dialects.read(spark, input, _))
      }
    writeRaw(df, identity, output, meta, Meta(meta.attrs ++ sidecarExtra),
      s"Ingested $input.")
  }

  /** Aquadopp .hdr deployment: scrape the header keywords, read the .sen
    * system file and the per-cell amplitude/velocity/correlation matrices,
    * join on (ens[, bin]) and attach bin geometry (stglib/aqd/hdr2cdf.py;
    * correlation files are the HR family's addition,
    * stglib/aqd/hrhdr2cdf.py:140-198). Velocity names follow the header's
    * coordinate system. Returns the header attrs so the sidecar carries
    * them into `clean` (the reference merges Instmeta into ds.attrs). */
  private def aquadoppIngest(spark: SparkSession, meta: Meta,
                             input: String): (DataFrame, Map[String, Any]) = {
    import graft.io.Aquadopp
    val base = input.stripSuffix(".hdr")
    val hdr = Aquadopp.readHdr(readText(input))
    def hdrStr(k: String): Option[String] = hdr.get(k).map(_.toString)
    val coord = hdrStr("AQDCoordinateSystem")
      .orElse(hdrStr("AQDHRCoordinateSystem")).getOrElse("BEAM")
    val vels = Aquadopp.velNames(coord)
    def exists(p: String) = java.nio.file.Files.exists(java.nio.file.Paths.get(p))
    val sen = Aquadopp.readSen(spark, readText(base + ".sen"))
    val mats =
      (1 to 3).flatMap { i =>
        val a = base + s".a$i"
        if (exists(a)) Some(Aquadopp.readMatrix(spark, readText(a), s"amp$i")) else None
      } ++ (1 to 3).flatMap { i =>
        val v = base + s".v$i"
        if (exists(v)) Some(Aquadopp.readMatrix(spark, readText(v), vels(i - 1))) else None
      } ++ (1 to 3).flatMap { i =>
        val c = base + s".c$i"
        if (exists(c)) Some(Aquadopp.readMatrix(spark, readText(c), s"cor$i")) else None
      }
    val cells = mats.reduceOption((x, y) => x.join(y, Seq("ens", "bin")))
    val joined = cells.map(_.join(sen, "ens")).getOrElse(sen)
    // bindist = blanking + cellsize/2 + bin*cellsize (hdr2cdf.py); standard
    // headers give cell size in cm, HR headers in mm
    val csM = hdr.get("AQDCellSize").map(_.toString.toDouble / 100.0)
      .orElse(hdr.get("AQDHRCellSize").map(_.toString.toDouble / 1000.0))
    val blankM = hdr.get("AQDBlankingDistance")
      .orElse(hdr.get("AQDHRBlankingDistance")).map(_.toString.toDouble)
    val out = (csM, blankM) match {
      case (Some(cs), Some(bl)) if joined.columns.contains("bin") =>
        joined.withColumn("bindist", lit(bl) + lit(cs / 2) + col("bin") * cs)
      case _ => joined
    }
    (out, hdr)
  }

  /** Nortek Signature deployment: multi-chunk `basefile_*.mat` → one raw
    * parquet per data_type group (the reference's per-ftype -raw.cdf files,
    * stglib/sig/mat2cdf.py:700-790). The primary (Burst) group lands at
    * `output`; others at `output_<ftype>`. The Beam2xyz wave-coord matrix
    * travels in the attrs sidecar. */
  private def sigIngest(spark: SparkSession, meta: Meta, input: String,
                        output: String): Unit = {
    // accept either the basefile or any chunk path (`dep_1.mat` → `dep`)
    val basefile =
      if (input.toLowerCase.endsWith(".mat"))
        input.replaceAll("_\\d+\\.(?i:mat)$", "")
      else input
    val groups = graft.io.Sig.ingest(spark, basefile)
    val primary = groups.find(g => graft.io.Sig.ftype(g.dataType) == "burst")
      .orElse(groups.headOption)
    groups.foreach { g =>
      val dest = if (primary.contains(g)) output
                 else output + "_" + graft.io.Sig.ftype(g.dataType)
      val attrs = meta.attrs ++
        Map("data_type" -> g.dataType) ++
        g.beam2xyz.map(m => "Beam2xyz" -> m.mkString(",")).toMap
      writeRaw(g.df, identity, dest, meta, Meta(attrs),
        s"Ingested $basefile (${g.dataType}).")
    }
  }

  /** SonTek IQ deployment (stglib/iq.py:12-40 mat_to_cdf): flat-MAT
    * traversal via [[graft.io.Iq.read]], per-sample flow series to `output`,
    * (time, beam, bin) profile rows with per-sample bindist to
    * `output_profiles`. Time shifts to the flow-sample middle
    * (`flowSampleDuration`/2) like the reference's shift_time. */
  private def iqIngest(spark: SparkSession, meta: Meta, input: String,
                       output: String): Unit = {
    val mat = graft.io.Mat5.parse(readBytes(input))
    val iq = graft.io.Iq.read(spark, mat)
    val shiftUs = math.round(meta.dbl("flowSampleDuration").getOrElse(0.0) / 2 * 1e6)
    def shift(df: DataFrame): DataFrame =
      if (shiftUs == 0) df
      else df.withColumn("time",
        col("time") + expr(s"INTERVAL $shiftUs MICROSECOND"))
    writeRaw(iq.flow, shift, output, meta, meta, s"Ingested $input (IQ flow).")
    writeRaw(iq.profiles, shift, output + "_profiles", meta, meta,
      s"Ingested $input (IQ profiles).")
  }

  /** Generic MAT5 ingest: equal-length top-level numeric vectors become
    * columns (rdi/abss mat2cdf family). Dedicated per-datatype pipelines
    * (sig, iq) dispatch on the instrument name. */
  private def matIngest(spark: SparkSession, meta: Meta, input: String,
                        instrument: String): DataFrame = {
    import graft.io.Mat5
    val vars = Mat5.parse(readBytes(input))
    val nums = vars.collect {
      case (name, Mat5.MatNum(dims, data)) if dims.count(_ > 1) <= 1 =>
        name -> data
    }.toSeq.sortBy(_._1)
    require(nums.nonEmpty, s"no numeric vectors in $input")
    val n = nums.map(_._2.length).max
    val full = nums.filter(_._2.length == n)
    import spark.implicits._
    val rows = (0 until n).map(i => full.map(_._2(i)))
    val df = spark.createDataset(rows.map(r => r.toArray))
      .toDF("__row")
      .select(full.zipWithIndex.map { case ((name, _), j) =>
        col("__row")(j).as(name) }: _*)
    df
  }

  /** Final export: processed parquet → netCDF-3 classic (the reference's
    * `to_netcdf(unlimited_dims=["time"])` sink). Numeric columns become
    * record variables; metadata attrs travel as global attributes. */
  def export(spark: SparkSession, meta0: Meta, input: String, output: String): Unit = {
    val meta = stepMeta(meta0, input)
    val df0 = readStepInput(spark, input)
    val numeric = df0.schema.fields.filter(f => f.dataType.typeName match {
      case "double" | "float" | "integer" | "long" | "timestamp" => true
      case _ => false
    }).map(_.name).toSeq
    val ordered = (if (numeric.contains("time")) Seq("time") else Nil) ++
      numeric.filterNot(_ == "time")
    val df1 = df0.select(ordered.map { c =>
      if (df0.schema(c).dataType.typeName == "timestamp")
        (col(c).cast("double")).as(c) // CF seconds-since-epoch
      else col(c)
    }: _*)
    // netCDF products are time-ordered (the reference writes sorted
    // datasets); parquet partition order is not deterministic
    val df = if (ordered.contains("time")) df1.orderBy("time") else df1
    val gatts = meta.attrs.toSeq.sortBy(_._1)
      .map { case (k, v) => k -> v.toString }
    val varAttrs = if (ordered.contains("time"))
      Map("time" -> Seq("units" -> "seconds since 1970-01-01T00:00:00Z",
        "standard_name" -> "time")) else Map.empty[String, Seq[(String, String)]]
    // `netcdf_append: true` extends an EXISTING classic archive in place
    // (O(new records) — Netcdf3.append patches numrecs); the columns must
    // match the archive's variables, which append validates loudly
    val fmt = meta.str("netcdf_format").map(_.toLowerCase)
    if (meta.bool("netcdf_append").contains(true) &&
        new java.io.File(output).isFile &&
        !fmt.exists(f => f == "netcdf4" || f == "hdf5")) {
      Netcdf3.append(df, output)
      return
    }
    // `netcdf_format: cdf5` lifts the classic 2 GiB limits;
    // `netcdf_format: netcdf4` writes the HDF5 container (the reference's
    // default engine, stglib/rsk/cdf2nc.py:145-147)
    fmt match {
      case Some("netcdf4") | Some("hdf5") =>
        // `netcdf_compression: <level>` selects the chunked+DEFLATE layout
        // (the reference's zlib encoding, stglib encodes with complevel)
        meta.int("netcdf_compression") match {
          case Some(lvl) if lvl > 0 =>
            graft.io.Hdf5.writeChunked(df, output, gatts, varAttrs,
              deflateLevel = lvl)
          case _ => graft.io.Hdf5.write(df, output, gatts, varAttrs)
        }
      case Some("cdf5") | Some("netcdf3_64bit_data") =>
        Netcdf3.write(df, output, gatts, varAttrs, version = 5)
      case Some("cdf2") | Some("netcdf3_64bit_offset") =>
        Netcdf3.write(df, output, gatts, varAttrs, version = 2)
      case Some("cdf1") | Some("netcdf3_classic") | None =>
        Netcdf3.write(df, output, gatts, varAttrs, version = 1)
      case Some(other) => throw new IllegalArgumentException(
        s"unsupported netcdf_format '$other' — supported: cdf1/netcdf3_classic, " +
          "cdf2/netcdf3_64bit_offset, cdf5/netcdf3_64bit_data, netcdf4/hdf5")
    }
  }

  /** Turnaround QA — the reference's post-recovery first-look scripts
    * (scripts/aqdturnaround.py, exoturnaround.py, rbrturnaround.py): raw
    * instrument file → ingest → (Aquadopp) BEAM/XYZ→ENU rotation with the
    * DOWN-orientation flip (aqdturnaround.py:20-49) — deliberately WITHOUT
    * deployment clipping / magvar / QA-QC, since turnaround runs before the
    * deployment metadata is final — then two products:
    *
    *   `<output>_turnaround.nc`   the quick-look netCDF the reference writes
    *                              (aqdturnaround.py:52 `to_netcdf(...)`),
    *                              with `AQDTransMatrix` blanked like line 50;
    *   `<output>_turnaround_qa`   a per-variable QA summary parquet carrying
    *                              exactly the numbers the reference's plot
    *                              pages encode as axis limits: min/mean/max
    *                              plus the 5%/95% quantiles
    *                              (aqdturnaround.py:78 `quantile(0.05/0.95)`
    *                              pcolor vmax, exoturnaround.py:34 turbidity
    *                              `quantile(0.95)` ylim) and row/null counts.
    *
    * The summary is ONE aggregation pass over all variables (map-side
    * combinable min/max/count; exact `percentile` matching numpy's linear
    * interpolation — per-deployment input is bounded, swap to
    * percentile_approx for corpus-scale sweeps) followed by a 1-row `stack`
    * into long form — no collect, no per-variable jobs. */
  def turnaround(spark: SparkSession, meta: Meta, input: String,
                 output: String, instrument: String = ""): Unit = {
    val raw = output + "_turnaround_raw"
    ingest(spark, meta, input, raw, instrument)
    val side = Meta((Sink.readSidecar(raw): Map[String, Any]) ++ meta.attrs)
    var df = spark.read.parquet(raw)
    if (side.has("AQDTransMatrix"))
      // turnaround names the rotated velocities U/V/W (aqdturnaround.py:46-48)
      // and keeps the raw beam/amplitude variables for the pcolor pages
      df = aqdCoordTransform(df, side, Seq("U", "V", "W"), dropBeams = false)
    val tpath = output + "_turnaround"
    // blank the transform matrix attr in the quick-look PRODUCT's attrs
    // (aqdturnaround.py:50) — export re-reads the sidecar, so the removal
    // must happen where the attrs live, not just in the passed config
    val sideOut = Meta(side.attrs - "AQDTransMatrix")
    write(df, tpath, sideOut, s"Turnaround QA for $input.")
    export(spark, sideOut, tpath, output + "_turnaround.nc")
    val numCols = df.schema.fields.collect {
      case f if Set("double", "float", "integer", "long")(f.dataType.typeName) =>
        f.name
    }.toSeq
    if (numCols.nonEmpty) {
      val aggs = numCols.flatMap { c =>
        val d = col(c).cast("double")
        Seq(count(col(c)).as(s"${c}__n"),
          (count(lit(1)) - count(col(c))).as(s"${c}__nulls"),
          min(d).as(s"${c}__min"), avg(d).as(s"${c}__mean"),
          max(d).as(s"${c}__max"),
          expr(s"percentile(CAST(`$c` AS DOUBLE), 0.05)").as(s"${c}__q05"),
          expr(s"percentile(CAST(`$c` AS DOUBLE), 0.95)").as(s"${c}__q95"))
      }
      val one = df.agg(aggs.head, aggs.tail: _*)
      val qa = one.select(expr(
        s"stack(${numCols.size}, " + numCols.map(c =>
          s"'$c', `${c}__n`, `${c}__nulls`, `${c}__min`, `${c}__mean`, " +
            s"`${c}__max`, `${c}__q05`, `${c}__q95`").mkString(", ") +
          ") AS (variable, n, nulls, min, mean, max, q05, q95)"))
      write(qa, output + "_turnaround_qa", side,
        s"Turnaround QA summary for $input.")
    }
  }

  /** 3×3 numeric helpers for the constant part of the velocity transform. */
  private def inv3(m: Array[Array[Double]]): Array[Array[Double]] = {
    val Array(a, b, c) = m(0); val Array(d, e, f) = m(1); val Array(g, h, i) = m(2)
    val det = a * (e * i - f * h) - b * (d * i - f * g) + c * (d * h - e * g)
    require(math.abs(det) > 1e-12, "singular transformation matrix")
    Array(
      Array(e * i - f * h, c * h - b * i, b * f - c * e),
      Array(f * g - d * i, a * i - c * g, c * d - a * f),
      Array(d * h - e * g, b * g - a * h, a * e - b * d)).map(_.map(_ / det))
  }
  private def mul3(a: Array[Array[Double]], b: Array[Array[Double]]): Array[Array[Double]] =
    Array.tabulate(3, 3)((i, j) => (0 until 3).map(k => a(i)(k) * b(k)(j)).sum)

  /** BEAM/XYZ→ENU rotation only — the shared front of the velocity chain and
    * the turnaround QA path (scripts/aqdturnaround.py:20-49 copies T, applies
    * the DOWN-orientation row flip, and rotates with per-row
    * heading/pitch/roll; it does NOT magvar-rotate, threshold-fill, or drop
    * beam variables — those belong to `clean`). No-op when the header coords
    * are already ENU or the needed columns are absent. One codegen'd
    * projection per row; no shuffle. */
  private[cli] def aqdCoordTransform(df0: DataFrame, meta: Meta,
      outNames: Seq[String] = Seq("u_1205", "v_1206", "w_1204"),
      dropBeams: Boolean = true): DataFrame = {
    import graft.functions.Mat3
    var df = df0
    val csOpt = meta.str("AQDHRCoordinateSystem").orElse(meta.str("AQDCoordinateSystem"))
    val tmatOpt = meta.str("AQDTransMatrix")
      .map(_.split(",").map(_.trim.toDouble).grouped(3).map(_.toArray).toArray)
    val down = meta.str("orientation").exists(_.equalsIgnoreCase("down"))
    val hpr = Seq("heading", "pitch", "roll")
    (csOpt, tmatOpt) match {
      case (Some(cs), Some(t0)) if cs != "ENU" && hpr.forall(df.columns.contains) =>
        val vels = graft.io.Aquadopp.velNames(cs)
        if (vels.forall(df.columns.contains)) {
          // orientation DOWN negates rows 2-3 of T (set_orientation)
          val t = if (down) t0.zipWithIndex.map { case (r, i) => if (i > 0) r.map(-_) else r }
                  else t0
          // BEAM→ENU: R = H·P·T; XYZ→ENU: R·T_orig⁻¹ = H·P·(T·T_orig⁻¹)
          val cMat = if (cs == "BEAM") t else mul3(t, inv3(t0))
          val r = Mat3.mul(Mat3.mul(
            Mat3.heading("radians(heading - 90)"),
            Mat3.tilt("radians(pitch)", "radians(roll)")), Mat3.const(cMat))
          val Seq(ue, ve, we) = Mat3.apply3(r, vels)
          df = df.withColumn(outNames(0), expr(ue))
            .withColumn(outNames(1), expr(ve))
            .withColumn(outNames(2), expr(we))
          if (dropBeams) df = df.drop(vels: _*)
        }
      case _ =>
    }
    df
  }

  /** EXO rename half of the clean ordering (stglib/exo.py:175-253
    * cdf_to_nc; ds_rename_vars exo.py:256-312): conductivity unit
    * conversions BEFORE the EPIC renames, then the drop list. Runs
    * BEFORE the common atmos step in clean() because P_1 only exists
    * after `press_dbar` renames. */
  private[cli] def exoRename(df0: DataFrame): DataFrame = {
    var df = df0
    // mS/cm -> S/m, µS/cm -> S/m (exo.py:257-271), pre-rename like the
    // reference
    for (c <- Seq("cond_ms_per_cm", "spcond_ms_per_cm")
         if df.columns.contains(c))
      df = df.withColumn(c, col(c) / 10)
    for (c <- Seq("cond_µs_per_cm", "spcond_µs_per_cm")
         if df.columns.contains(c))
      df = df.withColumn(c, col(c) / 10000)
    val renames = Seq(
      "press_dbar" -> "P_1", "battery_v" -> "Bat_106",
      "fdom_rfu" -> "fDOMRFU", "fdom_qsu" -> "fDOMQSU",
      "chlorophyll_rfu" -> "CHLrfu",
      "chlorophyll_µg_per_l" -> "Fch_906",
      "chlorophyll_ug_per_l" -> "Fch_906",
      "bga-pe_rfu" -> "TALPErfu", "bga_pe_rfu" -> "TALPErfu",
      "bga-pe_µg_per_l" -> "TALPE", "bga_pe_ug_per_l" -> "TALPE",
      "tal_pe_rfu" -> "TALPErfu", "tal_pe_ug_per_l" -> "TALPE",
      "tal_pe_µg_per_l" -> "TALPE",
      "temp_°c" -> "T_28", "temp_∞c" -> "T_28",
      "cond_ms_per_cm" -> "C_51", "cond_µs_per_cm" -> "C_51",
      "spcond_ms_per_cm" -> "SpC_48", "spcond_µs_per_cm" -> "SpC_48",
      "sal_psu" -> "S_41", "odo_%_sat" -> "OST_62", "odo_mg_per_l" -> "DO",
      "turbidity_ntu" -> "Turb", "turbidity_fnu" -> "Turb_FNU",
      "ph" -> "pH_159")
    for ((from, to) <- renames
         if df.columns.contains(from) && !df.columns.contains(to))
      df = df.withColumnRenamed(from, to)
    // exo.py:191-214 drop list + the final Depth_m drop (exo.py:241-243)
    df.drop("press_psi_a", "pressure_psi_a", "site_name", "fault_code",
      "time_(fract._sec)", "tds_mg_per_l", "tss_mg_per_l",
      "wiper_position_volt", "cable_pwr_v", "nlf_cond_µs_per_cm",
      "nlf_cond_ms_per_cm", "vertical_position_m", "ph_mv", "file_name",
      "user_id", "odo_%_cb", "depth_m")
  }

  /** turbidity_to_ssc (stglib/core/utils.py:2006-2041): `ssc` = np.polyval
    * of each present var's `<var>_ssc_calibration` coefficients, highest
    * order first; a later var overwrites an earlier one's `ssc`. */
  private def turbidityToSsc(df0: DataFrame, meta: Meta,
                             vars: Seq[String]): DataFrame = {
    var df = df0
    for (v <- vars if df.columns.contains(v))
      meta.dblSeq(s"${v}_ssc_calibration").foreach { coef =>
        val poly = coef.zipWithIndex.map { case (c, i) =>
          val pw = coef.length - 1 - i
          if (pw == 0) lit(c) else lit(c) * pow(col(v), pw)
        }.reduce(_ + _)
        df = df.withColumn("ssc", poly)
      }
    df
  }

  /** Imagenex sweep-set deployment ingest (stglib/son/raw2cdf.py:139-213
    * file81R_to_cdf): a directory of `mmddHHMM<sw>.81R` files where the
    * 2-char sweep tag lives at name[6:8] and files sharing name[:-6] form
    * one sweep SET (e.g. 031400AE/AF/AG/AH). Trailing files that do not
    * complete a set are trimmed (the reference's len(files) % n_sweeps
    * cut). Output is long format (time, sweep, scan, attitude fields,
    * sonar_image) with the SET's time coordinate taken from its first
    * sweep's first ping — the (time, sweep, scan/points) cube the son
    * clean chain and sweep average consume.
    *
    * Scale shape: the file LIST and set metadata are driver-side (one
    * name per file); the echo-payload decode runs distributed over a
    * binaryFile scan, one task per file group. */
  private def sonDirIngest(spark: SparkSession, meta: Meta, input: String,
                           output: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    // the sweep-set grouping below needs a LOCAL directory listing;
    // java.io.File.listFiles is null for any non-local path (object
    // store / HDFS URI), which must fail loudly, not as an empty ingest
    val listed = Option(probeFile(input, "sonar sweep-set listing").listFiles)
    require(listed.nonEmpty,
      s"$input: not a listable local directory — sonar sweep-set ingest " +
        "reads via java.io.File and cannot enumerate remote storage; " +
        "stage the deployment directory locally")
    val all = listed.get
      .map(_.getName).filter(_.toLowerCase.endsWith(".81r")).sorted
    require(all.nonEmpty, s"$input: no .81R files")
    val nSweeps = all.map(n => n.slice(6, 8)).distinct.length
    val extra = all.length % nSweeps
    val files =
      if (extra > 0) {
        System.err.println(s"[runots] trimmed $extra incomplete-sweep file(s)")
        all.dropRight(extra)
      } else all
    val keep = files.toSet
    import spark.implicits._
    val decoded = spark.read.format("binaryFile")
      // push the suffix filter into the file listing — without it, any
      // other file in the deployment dir (notes, prior outputs) would be
      // loaded into memory before the name filter below discards it
      .option("pathGlobFilter", "*.81[Rr]")
      .load(input)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .filter(r => keep.contains(new java.io.File(r._1).getName))
      .flatMap { case (path, content) =>
        val name = new java.io.File(path).getName
        val md = if (name.length >= 12)
          name.slice(name.length - 12, name.length - 8) else "0101"
        graft.io.Son81R.decode(content).zipWithIndex.map { case (p, i) =>
          (name.dropRight(6), name, i + 1, p.timeRaw, md, p.headPosition,
           p.headAngleDeg, p.stepDirection, p.profileRange, p.sonarPosition,
           p.sonarAngleDeg, p.pitch, p.roll, p.heading, p.gyroHeading,
           p.intensities)
        }
      }
      .toDF("__set", "__fname", "scan", "timeRaw", "__md", "HeadPosition",
        "HeadAngle", "StepDirection", "ProfileRange", "SonarPosition",
        "SonarAngle", "Pitch", "Roll", "Heading", "GyroHeading", "sonar_image")
    // per-ping wall time (header YYYYHHMMSS.f + filename mmdd, as the
    // single-file path), then the set-level coordinate: first sweep's
    // first ping (min over (fname, scan))
    val t = decoded.withColumn("__t", to_timestamp(concat(
      substring(col("timeRaw"), 1, 4), lit("-"),
      substring(col("__md"), 1, 2), lit("-"), substring(col("__md"), 3, 2),
      lit(" "), substring(col("timeRaw"), 5, 2), lit(":"),
      substring(col("timeRaw"), 7, 2), lit(":"), substring(col("timeRaw"), 9, 5))))
    // sweep index = rank of the file within its set (sets hold nSweeps
    // files × bounded pings — the window partition is tiny by construction)
    val w = Window.partitionBy(col("__set")).orderBy(col("__fname"))
    val withSweep = t.withColumn("sweep", dense_rank().over(w))
    val setTime = t.groupBy(col("__set"))
      .agg(min(struct(col("__fname"), col("scan"), col("__t"))).as("__first"))
      .select(col("__set").as("__set2"), col("__first.__t").as("time"))
    // plain equi-join: setTime is one row per sweep set, which grows with
    // directory size — let AQE broadcast only when it actually fits
    val out = withSweep.join(setTime, col("__set") === col("__set2"))
      .drop("__set", "__set2", "__fname", "timeRaw", "__md", "__t")
    val cols = "time" +: out.columns.filter(_ != "time").toSeq
    writeRaw(out.select(cols.map(col): _*), identity, output, meta, meta,
      s"Ingested $input (${files.length} .81R sweep files, " +
        s"$nSweeps sweeps/set).")
  }

  /** Imagenex rotary-sonar clean ordering (stglib/son/cdf2nc.py:7-100):
    * EPIC renames → sonar height off the brange aux series (nearest
    * reindex + NaN interpolation + initial-height offset,
    * cdf2nc.py:18-44) → per-point slant/horizontal range
    * (cdf2nc.py:49-70) → magnetic-variation heading correction
    * (magvar_correct:137-151) → compass theta (correct_theta:154-171).
    * Every step is conditional on its inputs, matching the per-family
    * chain style. */
  private[cli] def sonChain(spark: SparkSession, df0: DataFrame,
                            meta: Meta): DataFrame = {
    var df = df0
    for ((from, to) <- Seq("Pitch" -> "Ptch_1216", "Roll" -> "Roll_1217",
                           "Heading" -> "Hdg_1215",
                           "headAngleDeg" -> "HeadAngle",
                           "headPosition" -> "HeadPosition",
                           // single-file .81R ingest keeps the decoder's
                           // field names; map them to the EPIC set too
                           "pitch" -> "Ptch_1216", "roll" -> "Roll_1217",
                           "heading" -> "Hdg_1215",
                           "gyroHeading" -> "GyroHeading",
                           "sonarPosition" -> "SonarPosition",
                           "sonarAngleDeg" -> "SonarAngle",
                           "profileRange" -> "ProfileRange",
                           "intensities" -> "sonar_image")
         if df.columns.contains(from) && !df.columns.contains(to))
      df = df.withColumnRenamed(from, to)
    // sonar height: brange series reindexed nearest onto sonar times with
    // NaN gaps filled by linear time interpolation (the reference's
    // reindex(method="nearest") + interpolate_na(dim="time")), minus the
    // initial-instrument-height difference
    (meta.str("brange_file"), meta.str("height_var")) match {
      case (Some(f), Some(hv)) =>
        val aux = Readers.readNetcdf(spark, f)
        val instrInit = Readers.netcdfGlobalAttrs(f)
          .get("initial_instrument_height")
          .flatMap(v => scala.util.Try(v.toDouble).toOption)
          .orElse(meta.dbl("brange_initial_instrument_height"))
          .getOrElse(0.0)
        val sonInit = meta.dbl("initial_instrument_height").getOrElse(0.0)
        val l = df.withColumn("__tus", unix_micros(col("time")))
        val rGood = aux
          .select(unix_micros(col("time").cast("timestamp")).as("__rus"),
            col(hv).cast("double").as("__hv"))
          .filter(col("__hv").isNotNull && !isnan(col("__hv")))
        // the reference's reindex(method="nearest") is UNBOUNDED unless
        // brange_tolerance_sec says otherwise
        val tolUs = meta.dbl("brange_tolerance_sec").map(s => (s * 1e6).toLong)
          .getOrElse(graft.ops.Align.Unbounded)
        val near = graft.ops.Align.asofNearest(l, rGood, "__tus", "__rus", tolUs)
        df = graft.ops.Align.interpLinear(near, rGood, "__tus", "__rus",
            "__hv", tolUs, "__hvi")
          .withColumn("sonar_hgt",
            coalesce(col("__hv"), col("__hvi")) - (instrInit - sonInit))
          .drop("__tus", "__rus", "__hv", "__hvi")
      case _ =>
    }
    // per-point slant range (SONRange/SONNDataPoints attrs): (i+1)·step,
    // masked at/below the bed return, then the horizontal projection
    (meta.int("SONNDataPoints"), meta.dbl("SONRange")) match {
      case (Some(np), Some(rng)) if df.columns.contains("sonar_hgt") =>
        val step = rng / np
        df = df
          .withColumn("SlantRange", expr(
            s"transform(sequence(1, $np), i -> " +
              s"CASE WHEN i * ${step}d > sonar_hgt THEN i * ${step}d END)"))
          .withColumn("HorizontalRange", expr(
            "transform(SlantRange, s -> sqrt(s * s - sonar_hgt * sonar_hgt))"))
      case _ =>
    }
    // magvar heading correction: rounded to 0.1, wrapped to [0, 360)
    val magvar = meta.dbl("magnetic_variation_at_site")
      .orElse(meta.dbl("magnetic_variation")).getOrElse(0.0)
    if (magvar != 0 && df.columns.contains("Hdg_1215"))
      df = df.withColumn("Hdg_1215",
        pmod(round(col("Hdg_1215") + magvar, 1), lit(360.0)))
    df = sonTheta(df)
    df
  }

  /** filter_vel (stglib/core/filter.py:232-280): `vel_filter_method` +
    * `vel_filter_cut` (period(s) in seconds) Butterworth over the velocity
    * set, each var keeping a `{var}_unfiltered` copy. Burst data (a
    * `sample` column) filters along the sample axis per time step
    * (filter.py:58-66); profile data (a `bin` column) filters per bin;
    * series data filters whole-series. Every layout filters the whole set
    * in place in one pass (Spectra.filterColumns).
    * Configured filtering with no sample rate raises, like the
    * reference's ValueError (filter.py:275-278); so does a sample with a
    * null `time` in `input`, which has no place in the series, burst or
    * bin it would be filtered in. */
  private[cli] def velFilter(df0: DataFrame, meta: Meta, vels: Seq[String],
                             input: String): DataFrame = {
    import graft.kernels.Butterworth
    val method = meta.str("vel_filter_method").map(_.toLowerCase)
    if (method.isEmpty || !meta.has("vel_filter_cut")) return df0
    // configured filtering with no sample rate is a loud error, like the
    // reference's ValueError (filter.py:275-278)
    val sr = meta.dbl("sample_rate")
      .orElse(meta.dbl("sample_interval").map(1.0 / _))
      .getOrElse(throw new IllegalArgumentException(
        "sample_rate or sample_interval do not exist in global attributes," +
          " cannot apply vel_filter_method"))
    val ford = meta.int("filter_order").getOrElse(4)
    val sos = method.get match {
      case "lowpass" =>
        Butterworth.lowpass(ford, 1.0 / meta.dbl("vel_filter_cut").get, sr)
      case "highpass" =>
        Butterworth.highpass(ford, 1.0 / meta.dbl("vel_filter_cut").get, sr)
      case "bandpass" =>
        // [long, short] periods -> increasing cut frequencies; bandpass()
        // rejects a reversed band loudly
        val ps = meta.dblSeq("vel_filter_cut").getOrElse(
          throw new IllegalArgumentException(
            "vel_filter_cut must be [long, short] periods for bandpass"))
        Butterworth.bandpass(ford, 1.0 / ps(0), 1.0 / ps(1), sr)
      case other =>
        throw new IllegalArgumentException(s"vel_filter_method $other")
    }
    val (hasSample, hasBin) = (df0.columns.contains("sample"), df0.columns.contains("bin"))
    require(!(hasSample && hasBin),
      "velFilter supports series, per-bin profile, or burst layouts, not burst profiles")
    val (group, order) = if (hasSample) (Some("time"), Seq("sample"))
      else if (hasBin) (Some("bin"), Seq("time")) else (None, Seq("time"))
    val present = vels.filter(df0.columns.contains)
    // checked in the projection the filter's input runs anyway: no job
    val timed = df0.withColumn("time",
      coalesce(col("time"), raise_error(lit(s"velFilter: null `time` in $input"))))
    graft.ops.Spectra.filterColumns(
      present.foldLeft(timed)((d, v) => d.withColumn(s"${v}_unfiltered", col(v))),
      group, order, present.map(_ -> sos))
  }

  /** `runots son nc2xy` (stglib/son/nc2xy.py:9-123): polar→cartesian
    * sonar images off the sweep-averaged clean product. Per time step the
    * (θ per scan, HorizontalRange, scan × points image) fan regrids onto
    * the square [-SONRange, SONRange] grid at `dxy` spacing with compass
    * orientation — one bounded kernel call per time step, distributed
    * like every per-group kernel (the reference loops time steps on the
    * driver). Output: one row per (time, x) carrying the y-axis image
    * row, NaN outside the fan. */
  private def sonXy(spark: SparkSession, meta0: Meta, input: String,
                    output: String): Unit = {
    import spark.implicits._
    val meta = stepMeta(meta0, input)
    val df = readStepInput(spark, input)
    val totalRange = meta.dbl("SONRange").getOrElse(
      throw new IllegalArgumentException("nc2xy needs the SONRange attr"))
    val dxy = meta.dbl("dxy").getOrElse(
      throw new IllegalArgumentException("nc2xy needs the dxy attr"))
    for (c <- Seq("scan", "theta", "HorizontalRange", "sonar_image"))
      require(df.columns.contains(c), s"nc2xy input needs column $c")
    val rows = df.select(
        coalesce(unix_micros(col("time")), raise_error(lit(s"nc2xy: null `time` in $input")))
          .as("_1"),
        col("scan").cast("long").as("_2"),
        col("theta").cast("double").as("_3"),
        expr("transform(HorizontalRange, v -> coalesce(CAST(v AS DOUBLE)," +
          " CAST('NaN' AS DOUBLE)))").as("_4"),
        expr("transform(sonar_image, v -> coalesce(CAST(v AS DOUBLE)," +
          " CAST('NaN' AS DOUBLE)))").as("_5"))
      .as[(Long, Long, Double, Seq[Double], Seq[Double])]
    val out = graft.ops.Spectra.perGroup(rows) { (t, scans) =>
      val thetaDeg = scans.map(s => math.toDegrees(s._3))
      val horzRng = scans.head._4.toArray
      val image = scans.map(_._5.toArray)
      val (axis, img) = graft.kernels.SonarRegrid.regrid(
        thetaDeg, horzRng, image, totalRange, dxy)
      axis.indices.iterator.map(i => (t, axis(i), img(i).toSeq))
    }.toDF("timeUs", "x", "sonar_image")
      .withColumn("time", expr("timestamp_micros(timeUs)"))
      .select("time", "x", "sonar_image")
    write(out, output, meta, "Sonar image regridded to x/y.")
  }

  /** Compass-convention rotation angle (son/cdf2nc.py:154-171): reverse
    * the math-convention head angle, point north via the heading offset,
    * wrap, radians. */
  private def sonTheta(df: DataFrame): DataFrame =
    if (Seq("HeadAngle", "Hdg_1215").forall(df.columns.contains))
      df.withColumn("theta",
        radians(pmod(-col("HeadAngle") + 90 + (lit(360.0) - col("Hdg_1215")),
          lit(360.0))))
    else df

  /** The sonar averaged product (son/cdf2nc.py:104-134): arithmetic mean
    * over the sweep dimension per time step, EXCEPT angles — headings,
    * pitch and roll vector-average (atan2 of mean unit vectors,
    * vector_avg_angles:188-209), head/sonar angles recompute from the
    * averaged positions (0.3·(pos − 600)), and theta recomputes from the
    * averaged quantities. */
  private[cli] def sonAvg(df0: DataFrame, meta: Meta): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, BinaryType, NumericType}
    // the sweep-averaged image: binary echo columns become unsigned-byte
    // double arrays so they ride the elementwise array mean below (the
    // reference's ds.mean averages sonar_image like every other var)
    var df = df0
    for (c <- df0.columns if df0.schema(c).dataType == BinaryType)
      // sequence(1, 0) DESCENDS — an empty image (INC pings) must become
      // an empty array, not two phantom nulls
      df = df.withColumn(c, expr(
        s"CASE WHEN octet_length(`$c`) > 0 THEN " +
          s"transform(sequence(1, octet_length(`$c`)), i -> " +
          s"CAST(conv(hex(substring(`$c`, i, 1)), 16, 10) AS DOUBLE)) " +
          s"ELSE CAST(array() AS ARRAY<DOUBLE>) END"))
    val angleVars = Seq("Hdg_1215", "GyroHeading", "Ptch_1216", "Roll_1217")
      .filter(df.columns.contains)
    // ds.mean(dim="sweep") collapses ONLY the sweep dimension — time and
    // the within-sweep scan index both survive as coordinates
    val keys = "time" +: (if (df.columns.contains("scan")) Seq("scan") else Nil)
    val numeric = df.columns.filter(c =>
      !keys.contains(c) && c != "sweep" && !angleVars.contains(c) &&
        c != "theta" &&
        (df.schema(c).dataType match {
          case _: NumericType => true
          case _ => false
        })).toSeq
    // points-dimension vars (SlantRange, HorizontalRange, image intensity)
    // average elementwise over the sweep like every scalar — xarray's
    // ds.mean(dim="sweep") is per-element and NaN-skipping. The sweep
    // count per time step is bounded (one sector scan), so the per-group
    // collect_list state is bounded too.
    val arrayVars = df.columns.filter(c =>
      c != "time" && (df.schema(c).dataType match {
        case ArrayType(et, _) => et.isInstanceOf[NumericType]
        case _ => false
      })).toSeq
    val aggs =
      numeric.map(c => avg(col(c)).as(c)) ++
      angleVars.map(c => pmod(degrees(atan2(
        avg(sin(radians(col(c)))), avg(cos(radians(col(c)))))), lit(360.0)).as(c)) ++
      arrayVars.map(c => collect_list(col(c)).as(s"__ls_$c"))
    var out = df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    for (c <- arrayVars) {
      // output length = the LONGEST collected array (collect_list order is
      // nondeterministic after the shuffle, so sizing by element 0 would
      // truncate run-to-run when sweeps disagree); `get` is 0-based and
      // null on out-of-bounds — no ANSI index error for the short arrays
      out = out
        .withColumn(s"__mx_$c", expr(
          s"aggregate(`__ls_$c`, 0, (m, l) -> greatest(m, size(l)))"))
        .withColumn(c, expr(
          s"""CASE WHEN `__mx_$c` > 0 THEN
             |transform(sequence(0, `__mx_$c` - 1), j ->
             |  CASE WHEN aggregate(`__ls_$c`, 0, (n, l) ->
             |         n + IF(get(l, j) IS NULL
             |                OR isnan(CAST(get(l, j) AS DOUBLE)), 0, 1)) > 0
             |  THEN aggregate(`__ls_$c`, CAST(0 AS DOUBLE), (s, l) ->
             |         s + IF(get(l, j) IS NULL
             |                OR isnan(CAST(get(l, j) AS DOUBLE)),
             |                CAST(0 AS DOUBLE), CAST(get(l, j) AS DOUBLE)))
             |     / aggregate(`__ls_$c`, 0, (n, l) ->
             |         n + IF(get(l, j) IS NULL
             |                OR isnan(CAST(get(l, j) AS DOUBLE)), 0, 1))
             |  END)
             |ELSE CAST(array() AS ARRAY<DOUBLE>) END""".stripMargin))
        .drop(s"__ls_$c", s"__mx_$c")
    }
    for (pos <- Seq("HeadPosition" -> "HeadAngle", "SonarPosition" -> "SonarAngle"))
      if (out.columns.contains(pos._1))
        out = out.withColumn(pos._2, (col(pos._1) - 600) * 0.3)
    sonTheta(out)
  }

  /** WXT / ClimaVue EPIC renames (stglib/met.py:207-273), keyed on the
    * config instrument_type exactly like the reference. */
  private val metWxtRenames = Seq(
    "WXTDn" -> "WD_min", "WXTDm" -> "WD_410", "WXTDx" -> "WD_gust",
    "WXTSn" -> "WS_min", "WXTSm" -> "WS_401", "WXTSx" -> "WG_402",
    "WXTTa" -> "T_21", "WXTUa" -> "RH_910", "WXTPa" -> "BPR_915",
    "WXTRc" -> "Rn_963",
    "WindDir_lull" -> "WD_min", "WindDir_avg" -> "WD_410",
    "WindDir_gust" -> "WD_gust", "WindSpeed_lull" -> "WS_min",
    "WindSpeed_avg" -> "WS_401", "WindSpeed_gust" -> "WG_402",
    "Temp" -> "T_21", "RH" -> "RH_910", "Baro" -> "BPR_915",
    "R_amt" -> "Rn_963", "R_dur" -> "rain_duration",
    "R_int" -> "rain_rate", "H_amt" -> "hail_amount",
    "H_dur" -> "hail_duration", "H_int" -> "hail_rate")
  private val metClimavueRenames = Seq(
    "PTemp_C_Avg" -> "internal_temp", "SlrFD_W" -> "solar_flux_density",
    "Rain_mm_Tot" -> "rain_amount", "Strikes_Tot" -> "light_strikes",
    "Dist_km" -> "strike_distance", "WS_ms" -> "wind_speed",
    "WindDir" -> "wind_dir", "MaxWS_ms" -> "wind_gust",
    "AirT_C" -> "air_temp", "VP_mbar" -> "vapor_pressure",
    "BP_mbar" -> "baro_pressure", "RH" -> "relative_humidity",
    "RHT_C" -> "humidity_sensor_temp", "TiltNS_deg" -> "tilt_NS",
    "TiltWE_deg" -> "tilt_WE", "SlrTF_MJ_Tot" -> "solar_total_flux",
    "Invalid_Wind" -> "wind_error")

  /** Met-station pre-qaqc chain (stglib/met.py:73-101): drop list, the
    * instrument-keyed EPIC renames, then fill_time_gaps — the sample
    * interval is the MODE of the time diffs (met.py:93-96) and the series
    * reindexes EXACTLY onto the regular grid (xarray reindex default:
    * gap timestamps become all-null rows; no nearest matching). The mode
    * and span are 1-row aggregates; the grid join is an equi-join on the
    * time key. */
  private[cli] def metChain(spark: SparkSession, df0: DataFrame,
                            meta: Meta): DataFrame = {
    var df = df0
    df = Clip.dropVars(df, Seq("SampNum", "Battery", "BoardTemp",
      "signalPercent", "RECORD", "panel_temp", "power_in",
      "lithium_battery", "memory_free", "BattV_Max", "CVMeta"))
    val renames = meta.str("instrument_type").map(_.toLowerCase) match {
      case Some("wxt") => metWxtRenames
      case Some("climavue") => metClimavueRenames
      case _ => Nil
    }
    // both the WXT-native and generic families map onto the same EPIC
    // names; skip a rename whose target already exists so a frame
    // carrying both never produces duplicate (ambiguous) columns — the
    // reference's xarray rename errors on the conflict, so surface the
    // masked column loudly rather than silently keeping it unrenamed
    for ((from, to) <- renames if df.columns.contains(from)) {
      if (df.columns.contains(to))
        System.err.println(s"[runots] met rename $from -> $to skipped:" +
          s" the frame already carries $to; $from stays unrenamed")
      else df = df.withColumnRenamed(from, to)
    }
    if (!df.columns.contains("time") || df.head(1).isEmpty) return df
    // mode of the consecutive time diffs (met.py:93-96) — the ordered lag
    // goes through Index.withOrderedLag (one ordered sweep), never an
    // unpartitioned Window.orderBy over the series
    val diffs = graft.ops.Index.withOrderedLag(
        df.select(unix_micros(col("time")).as("__us")),
        Seq("__us"), "__us", "__prev")
      .withColumn("__d", col("__us") - col("__prev"))
      .filter(col("__d").isNotNull && col("__d") > 0)
    val modeRow = diffs.groupBy("__d").agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("__d")).head(1)
    if (modeRow.isEmpty) return df
    val stepUs = modeRow(0).getLong(0)
    val b = df.agg(min(unix_micros(col("time"))).as("t0"),
      max(unix_micros(col("time"))).as("t1")).head()
    val (t0, t1) = (b.getLong(0), b.getLong(1))
    // pds = floor((t_last − t0)/interval) + 1 points (met.py:189-197) —
    // an off-grid last sample must NOT add a grid point past it
    val gridEnd = t0 + ((t1 - t0) / stepUs + 1) * stepUs
    val grid = graft.ops.Align.calendarGrid(spark, t0, gridEnd, stepUs, "__gus")
    val dd = df.dropDuplicates("time")
      .withColumn("__tus", unix_micros(col("time")))
    grid.join(dd, col("__tus") === col("__gus"), "left")
      .withColumn("time", timestamp_micros(col("__gus")))
      .drop("__gus", "__tus")
  }

  /** Met wind-direction corrections (stglib/met.py:110-161), which the
    * reference runs AFTER call_qaqc ("remove bad rows ... before
    * direction corrections"): optional dir_offset (gated on
    * dir_offset_time when present), magnetic declination, then the
    * reference's numpy `.round(0)` — banker's rounding, Spark `bround` —
    * and the mod-360 wrap. */
  private[cli] def metDirCorrections(df0: DataFrame, meta: Meta): DataFrame = {
    var df = df0
    val windVars = Seq("WD_min", "WD_410", "WD_gust", "wind_dir")
      .filter(df.columns.contains)
    if (windVars.isEmpty) return df
    for (v <- windVars) {
      (meta.dbl("dir_offset"), meta.str("dir_offset_time")) match {
        case (Some(off), Some(start)) =>
          df = df.withColumn(v,
            when(col("time") < to_timestamp(lit(start)), col(v))
              .otherwise(col(v) + off))
        case (Some(off), None) => df = df.withColumn(v, col(v) + off)
        case _ =>
      }
      meta.dbl("magnetic_variation").foreach { mv =>
        df = df.withColumn(v, pmod(bround(col(v) + mv, 0), lit(360.0)))
      }
    }
    df
  }

  /** RDI ADCP clean chain (stglib/rdi/cdf2nc.py:9-107): per-beam EPIC
    * renames for correlation (cor1_1285…) and echo intensity (AGC1_1221…),
    * earth-coordinate velocity renames (the reference's
    * ds["vel"].sel(velbeam="E"/"N"/"U1"/"U2") → u_1205/v_1206/w_1204/
    * Werr_1201 — raw values carried as-is, matching the reference, which
    * relabels without rescaling), magnetic declination, trim_vel over the
    * renamed vars, and bin depth. Percent-good columns are kept (the
    * reference's commented-out PGd block leaves `pg` in the raw set). */
  private def rdiChain(df0: DataFrame, meta: Meta): DataFrame = {
    var df = df0
    if (df.columns.contains("bindistM") && !df.columns.contains("bindist"))
      df = df.withColumnRenamed("bindistM", "bindist")
    for (b <- 1 to 4) {
      if (df.columns.contains(s"cor$b"))
        df = df.withColumnRenamed(s"cor$b", s"cor${b}_${1284 + b}")
      if (df.columns.contains(s"echo$b"))
        df = df.withColumnRenamed(s"echo$b", s"AGC${b}_${1220 + b}")
    }
    // earth-coordinate deployments carry E/N/U1/U2 in the four vel slots
    val coord = meta.str("Coord_Transform")
      .orElse(meta.str("RDICoordTransform")).map(_.toUpperCase)
    if (coord.contains("EARTH"))
      for ((from, to) <- Seq("vel1" -> "u_1205", "vel2" -> "v_1206",
          "vel3" -> "w_1204", "vel4" -> "Werr_1201")
           if df.columns.contains(from))
        df = df.withColumnRenamed(from, to)
    df = magvarRotate(df, meta, "u_1205", "v_1206", Some("headingDeg"))
    // trim_vel over the reference's data_vars list (beam_angle/bin_size
    // come from the PD0 fixed-leader attrs via config, cdf2nc.py:66-67)
    df = aqdTrimVel(df, meta, Seq("u_1205", "v_1206", "w_1204",
      "AGC1_1221", "AGC2_1222", "AGC3_1223", "AGC4_1224"))
    // pressure preferred, transducer depth as fallback
    binDepth(df, meta, Seq("P_1ac", "P_1", "xducerDepthM"))
  }

  /** Aquadopp / HR-Aquadopp cdf2nc velocity chain
    * (stglib/aqd/hrcdf2nc.py:23-118; aqdutils.py coord_transform:156-214,
    * set_orientation down-flip:291-294, magvar_correct:372-432,
    * fill_agc/fill_cor:1631-1699, make_bin_depth:337-369): per-row
    * BEAM/XYZ→ENU rotation with the header's 3×3 geometry matrix, magnetic
    * declination rotation, beam-averaged AGC/correlation with threshold
    * fills, raw beam-variable drop, and bin_depth. Everything is
    * column-expression arithmetic — one codegen'd projection, no shuffle. */
  private def aqdVelocityChain(df0: DataFrame, meta: Meta): DataFrame = {
    var df = magvarRotate(aqdCoordTransform(df0, meta), meta,
      "u_1205", "v_1206", Some("heading"))
    // beam-averaged echo intensity / correlation
    if (Seq("amp1", "amp2", "amp3").forall(df.columns.contains))
      df = df.withColumn("AGC_1202", (col("amp1") + col("amp2") + col("amp3")) / 3)
    if (Seq("cor1", "cor2", "cor3").forall(df.columns.contains))
      df = df.withColumn("cor_avg", (col("cor1") + col("cor2") + col("cor3")) / 3)
    // threshold fills over the transformed velocities
    val uvw = Seq("u_1205", "v_1206", "w_1204").filter(df.columns.contains)
    df = velGate(df, meta, "velocity_agc_min", "AGC_1202", uvw)
    df = velGate(df, meta, "velocity_cor_min", "cor_avg", uvw)
    // drop raw beam data (hrcdf2nc.ds_drop)
    df = df.drop("amp1", "amp2", "amp3", "cor1", "cor2", "cor3")
    // atmos-corrected pressure preferred
    aqdTrimVel(binDepth(df, meta, Seq("P_1ac", "P_1", "pressure")), meta)
  }

  /** Threshold fill (fill_agc/fill_cor, stglib/aqd/aqdutils.py:1631-1699):
    * null each of `vels` wherever the beam-averaged `gate` column is not
    * above the configured `key` minimum. */
  private def velGate(df: DataFrame, meta: Meta, key: String, gate: String,
                      vels: Seq[String]): DataFrame =
    meta.dbl(key).filter(_ => df.columns.contains(gate)).fold(df)(m =>
      vels.foldLeft(df)((d, c) => d.withColumn(c, when(col(gate) > m, col(c)))))

  /** make_bin_depth (stglib/aqd/aqdutils.py:337-369): the first present
    * pressure candidate minus bindist for an UP-looking profiler, plus it
    * for a DOWN-looking one. */
  private def binDepth(df: DataFrame, meta: Meta, pres: Seq[String]): DataFrame = {
    val down = meta.str("orientation").exists(_.equalsIgnoreCase("down"))
    pres.find(df.columns.contains).filter(_ => df.columns.contains("bindist"))
      .fold(df)(p => df.withColumn("bin_depth",
        if (down) col(p) + col("bindist") else col(p) - col("bindist")))
  }

  /** trim_vel (stglib/aqd/aqdutils.py:435-620): the config-driven
    * `trim_method` bin trimming, followed by the trailing all-null-bin
    * drop. UP-looking: "water level" (bins above the pressure surface),
    * "water level sl" (side-lobe cutoff P·cos(beam_angle) −
    * bin_size·surf_bins). DOWN-looking: "brange" / "brange sl" (boundary
    * distance from a brange column or a brange_file reindexed nearest
    * within the file's own time step, aqdutils.py:573-585) and
    * "inst_ht" / "inst_ht sl" (initial instrument height). "bin range"
    * (good_bins index slice) applies either way. beam_angle defaults to
    * the reference's Aquadopp 25° (aqdutils.py:1020); bin_size derives
    * from the header cell-size attrs exactly as bindist did at ingest. */
  private[cli] def aqdTrimVel(df0: DataFrame, meta: Meta,
      vars0: Seq[String] = Seq("u_1205", "v_1206", "w_1204", "AGC_1202"))
      : DataFrame = {
    import org.apache.spark.sql.Column
    val orient = meta.str("orientation").map(_.toUpperCase).getOrElse("")
    val method = meta.str("trim_method").map(_.toLowerCase)
      .filter(m => m.nonEmpty && m != "none")
    if (method.isEmpty || !df0.columns.contains("bindist") ||
        (orient != "UP" && orient != "DOWN")) return df0
    var df = df0
    val vars = vars0.filter(df.columns.contains)
    if (vars.isEmpty) return df0
    val beam = meta.dbl("beam_angle")
      .orElse(meta.dbl("AQDBeamAngle")).getOrElse(25.0)
    // the reference reads ds.attrs["bin_size"] unconditionally in the
    // side-lobe cutoffs (aqdutils.py:502,586) — a missing value there is a
    // KeyError, not a silent 0 that keeps contaminated bins
    def binSize: Double = meta.dbl("bin_size")
      .orElse(meta.dbl("AQDCellSize").map(_ / 100.0))
      .orElse(meta.dbl("AQDHRCellSize").map(_ / 1000.0))
      .getOrElse(throw new IllegalArgumentException(
        s"trim_method '${method.get}' needs bin_size (or AQDCellSize /" +
          " AQDHRCellSize) in attrs"))
    val cosBeam = math.cos(math.toRadians(beam))
    def maskBelow(cut: Column): Unit =
      vars.foreach(v => df = df.withColumn(v,
        when(col("bindist") < cut, col(v))))
    def binRange(): Boolean = meta.dblSeq("good_bins") match {
      case Some(gb) if gb.length == 2 && df.columns.contains("bin") =>
        df = df.filter(col("bin") >= gb(0).toInt && col("bin") < gb(1).toInt)
        true
      case _ => false
    }
    // DOWN boundary distance: in-dataset brange column, else brange_file
    // reindexed nearest with tolerance = the aux series' own step
    def boundary(): Option[Column] =
      if (df.columns.contains("brange")) Some(col("brange"))
      else meta.str("brange_file").map { fpath =>
        val aux = Readers.readNetcdf(df.sparkSession, fpath)
          .select(unix_micros(col("time").cast("timestamp")).as("__rus"),
            col("brange").cast("double").as("__R"))
        val head2 = aux.filter(col("__rus").isNotNull)
          .orderBy("__rus").limit(2).collect()
        val tol = if (head2.length == 2) head2(1).getLong(0) - head2(0).getLong(0)
                  else 1L
        df = graft.ops.Align.asofNearest(
            df.withColumn("__tus", unix_micros(col("time"))), aux,
            "__tus", "__rus", tol)
          .drop("__tus", "__rus")
        col("__R")
      }
    val applied = (orient, method.get) match {
      case (_, "bin range") => binRange()
      case ("UP", m @ ("water level" | "water level sl")) =>
        Seq("Pressure_ac", "P_1ac", "Pressure", "P_1")
          .find(df.columns.contains) match {
          case Some(p) if m == "water level" => maskBelow(col(p)); true
          case Some(p) =>
            maskBelow(col(p) * cosBeam -
              binSize * meta.int("trim_surf_bins").getOrElse(0)); true
          case None => false
        }
      case ("DOWN", m @ ("brange" | "brange sl")) =>
        boundary() match {
          case Some(r) =>
            if (m == "brange") maskBelow(r)
            else maskBelow(r * cosBeam -
              binSize * meta.int("trim_bottom_bins").getOrElse(0))
            df = df.drop("__R")
            true
          case None => false
        }
      case ("DOWN", m @ ("inst_ht" | "inst_ht sl")) =>
        meta.dbl("initial_instrument_height") match {
          case Some(h) if m == "inst_ht" => maskBelow(lit(h)); true
          case Some(h) =>
            maskBelow(lit(h * cosBeam -
              binSize * meta.int("trim_bottom_bins").getOrElse(0))); true
          case None => false
        }
      case _ => false
    }
    if (!applied) return df0
    ProfileTrims.dropTrailingNullBins(df, vars.head, "bindist")
  }

  /** Magnetic-declination rotation of a horizontal velocity pair (+
    * heading wrap), the shared magvar_correct step
    * (stglib/aqd/aqdutils.py:372-432). */
  private def magvarRotate(df0: DataFrame, meta: Meta, uCol: String,
                           vCol: String, hdgCol: Option[String]): DataFrame = {
    var df = df0
    val magvar = meta.dbl("magnetic_variation_at_site")
      .orElse(meta.dbl("magnetic_variation")).getOrElse(0.0)
    if (magvar != 0 && df.columns.contains(uCol) && df.columns.contains(vCol)) {
      val rad = math.toRadians(magvar)
      val (cosv, sinv) = (math.cos(rad), math.sin(rad))
      df = df
        .withColumn("__u2", col(uCol) * cosv + col(vCol) * sinv)
        .withColumn(vCol, -col(uCol) * sinv + col(vCol) * cosv)
        .withColumn(uCol, col("__u2")).drop("__u2")
      hdgCol.filter(df.columns.contains).foreach { h =>
        df = df.withColumn(h, pmod(col(h) + magvar, lit(360.0)))
      }
    }
    df
  }

  /** find_ast_qual_min (stglib/sig/cdf2nc.py:1808-1830): the value at
    * sorted index ⌊2n/3⌋, then the mean of strictly-greater values × sf,
    * rounded. The order statistic comes from a cumulative count over the
    * DISTINCT quality values (a quantized sensor metric — the distinct
    * set is bounded, so the ordering window never sees data-sized input),
    * not a global row sort. Degenerate inputs (empty, or no value above
    * the 2/3 quantile — e.g. constant quality) return -∞, which trims
    * nothing, matching the reference's NaN-comparison no-op. */
  private def astQualMin(df: DataFrame, sf: Double): Double = {
    val vals = df.select(col("ast_quality").cast("double").as("q"))
      .filter(col("q").isNotNull)
    val n = vals.count()
    if (n == 0) return Double.NegativeInfinity
    import org.apache.spark.sql.expressions.Window
    val cnts = vals.groupBy("q").agg(count(lit(1)).as("__c"))
    // smallest q whose cumulative count exceeds the 0-based index 2n/3
    val v13 = cnts
      .withColumn("__cum", sum("__c").over(
        Window.orderBy("q").rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("__cum") > n * 2 / 3)
      .agg(min("q")).head().getDouble(0)
    val m = vals.filter(col("q") > v13)
      .agg(sum("q"), count(lit(1))).head()
    if (m.isNullAt(0) || m.getLong(1) == 0L) Double.NegativeInfinity
    else math.round(m.getDouble(0) / m.getLong(1) * sf).toDouble
  }

  /** Signature clean ordering (stglib/sig/cdf2nc.py:17-518), reusing the
    * shared trim/transform operators: ENU aliases U/V/W1/W2 → magvar →
    * beam-averaged amp/cor + threshold fills (trim_vel/filter_vel analog)
    * → bin_depth → altimeter-quality dB scaling → heading modulus →
    * trim_ast (brangeAST screened by the find_ast_qual_min threshold,
    * untrimmed copy kept). The per-var qaqc trim loop and drop_vars run in
    * the common clean tail (Qaqc.applyAll), as in the reference. */
  private[cli] def sigChain(df0: DataFrame, meta: Meta, input: String): DataFrame = {
    var df = df0
    for ((from, to) <- Seq("VelEast" -> "U", "VelNorth" -> "V",
                           "VelUp1" -> "W1", "VelUp2" -> "W2"))
      if (df.columns.contains(from)) df = df.withColumn(to, col(from))
    // sig/cdf2nc.py:69-71 ordering: filter_vel -> magvar_correct -> trim_vel
    df = velFilter(df, meta, Seq("U", "V", "W1", "W2"), input)
    df = magvarRotate(df, meta, "U", "V",
      Seq("Hdg_1215", "Heading", "heading").find(df.columns.contains))
    df = aqdTrimVel(df, meta, Seq("U", "V", "W1", "W2"))
    val ampBeams = (1 to 4).map(i => s"AmpBeam$i").filter(df.columns.contains)
    if (ampBeams.nonEmpty)
      df = df.withColumn("amp_avg",
        ampBeams.map(col).reduce(_ + _) / ampBeams.length)
    val corBeams = (1 to 4).map(i => s"CorBeam$i").filter(df.columns.contains)
    if (corBeams.nonEmpty)
      df = df.withColumn("cor_avg",
        corBeams.map(col).reduce(_ + _) / corBeams.length)
    val vels = Seq("U", "V", "W1", "W2").filter(df.columns.contains)
    df = velGate(df, meta, "velocity_cor_min", "cor_avg", vels)
    df = velGate(df, meta, "velocity_agc_min", "amp_avg", vels)
    // bin_depth for profile groups
    df = binDepth(df, meta, Seq("P_1ac", "P_1", "Pressure", "pressure"))
    // altimeter quality units to dB (cdf2nc.py:119-123) — the quality
    // variable may already carry its renamed name (ds_rename_sig runs as
    // config renames at ingest here)
    for (v <- Seq("AltimeterQualityLE", "AltimeterQualityAST", "ast_quality")
         if df.columns.contains(v))
      df = df.withColumn(v, col(v) / 100)
    // negative headings wrap via modulus (cdf2nc.py:133)
    for (h <- Seq("Hdg_1215", "Heading").filter(df.columns.contains))
      df = df.withColumn(h, pmod(col(h), lit(360.0)))
    // trim_ast: screen brangeAST by AST quality (cdf2nc.py:139-142,
    // 1833-1860) — untrimmed copy kept, threshold from find_ast_qual_min
    val qualCol = Seq("ast_quality", "AltimeterQualityAST")
      .find(df.columns.contains)
    val brangeCol = Seq("brangeAST", "AltimeterDistanceAST")
      .find(df.columns.contains)
    if (meta.str("trim_ast").exists(_.equalsIgnoreCase("true")) &&
        qualCol.nonEmpty && brangeCol.nonEmpty) {
      val (q, br) = (qualCol.get, brangeCol.get)
      val qmin = astQualMin(df.select(col(q).as("ast_quality")),
        meta.dbl("ast_qual_sf").getOrElse(0.85))
      df = df.withColumn(s"${br}_untrimmed", col(br))
        .withColumn(br, when(!(col(q) < qmin), col(br)))
    }
    df
  }

  /** Vector clean ordering (stglib/vec/cdf2nc.py:14-124 + 628-737):
    * BEAM/XYZ→ENU coordinate transform off the VEC header attrs → magvar
    * → analog-input counts→volts scaling → per-beam SNR/correlation
    * velocity fills → turbidity→SSC. The per-var qaqc trim loop runs in
    * the common clean tail, matching the reference's trim ordering. */
  private[cli] def vecChain(df0: DataFrame, meta: Meta): DataFrame = {
    var df = df0
    // Vector .dat columns are vel1/vel2/vel3; the transform speaks the
    // Aquadopp naming per coordinate system
    val cs = meta.str("VECCoordinateSystem").getOrElse("ENU")
    if (cs == "BEAM")
      for ((from, to) <- Seq("vel1" -> "VEL1", "vel2" -> "VEL2", "vel3" -> "VEL3"))
        if (df.columns.contains(from)) df = df.withColumnRenamed(from, to)
    if (cs == "XYZ")
      for ((from, to) <- Seq("vel1" -> "X", "vel2" -> "Y", "vel3" -> "Z"))
        if (df.columns.contains(from)) df = df.withColumnRenamed(from, to)
    if (cs == "ENU")
      for ((from, to) <- Seq("vel1" -> "u_1205", "vel2" -> "v_1206",
                             "vel3" -> "w_1204"))
        if (df.columns.contains(from)) df = df.withColumnRenamed(from, to)
    meta.str("VECTransMatrix").foreach { tm =>
      df = aqdCoordTransform(df,
        Meta(meta.attrs ++ Map("AQDCoordinateSystem" -> cs,
          "AQDTransMatrix" -> tm)))
    }
    df = magvarRotate(df, meta, "u_1205", "v_1206",
      Seq("heading", "Heading").find(df.columns.contains))
    // scale_analoginput (vec/cdf2nc.py:429-438): counts -> volts
    for (v <- Seq("AnalogInput1", "AnalogInput2") if df.columns.contains(v))
      df = df.withColumn(v, col(v) * 5 / 65535)
    // fill_snr / fill_cor (vec/cdf2nc.py:628-672): velocity masked where
    // ANY beam's snr/cor falls at/below the threshold
    val uvw = Seq("u_1205", "v_1206", "w_1204").filter(df.columns.contains)
    def beamFill(prefix: String, thr: Double): Unit = {
      val beams = (1 to 3).map(i => s"$prefix$i").filter(df.columns.contains)
      if (beams.nonEmpty) {
        val ok = beams.map(b => col(b) > thr).reduce(_ && _)
        uvw.foreach(c => df = df.withColumn(c, when(ok, col(c))))
      }
    }
    meta.dbl("snr_threshold").foreach(beamFill("snr", _))
    meta.dbl("cor_threshold").foreach(beamFill("cor", _))
    turbidityToSsc(df, meta, Seq("AnalogInput1", "AnalogInput2", "Turb"))
  }

  /** atmos_correct (stglib/aqd/aqdutils.py:93-118 + core/utils.py:1386-1414):
    * subtract an atmospheric-pressure aux series from `srcCol` into
    * `dstCol`. The aux series joins as-of nearest within tolerance (the
    * reference's `met["atmpres"].reindex_like(ds, method="nearest",
    * tolerance="5s")`), minus the atmpres variable's own `offset` attr
    * (utils.py:1390; config `atmpres_offset` overrides when present). A
    * scalar `atmpres` attr falls back to a constant offset. No-op when
    * neither is configured or `srcCol` is absent. */
  def atmosCorrect(spark: SparkSession, df0: DataFrame, meta: Meta,
                   srcCol: String, dstCol: String): DataFrame = {
    var df = df0
    meta.str("atmpres_file") match {
      case Some(f) if df.columns.contains(srcCol) =>
        val met0 = if (f.toLowerCase.endsWith(".csv"))
          spark.read.option("header", "true").option("inferSchema", "true").csv(f)
        else if (isNetcdfPath(f))
          Readers.readNetcdf(spark, f) // the reference's atmpres.cdf shape
        else spark.read.parquet(f)
        // the reference applies the atmpres VARIABLE's own `offset` attr
        // (utils.py:1390); config atmpres_offset overrides when present
        val fileOffset =
          if (isNetcdfPath(f))
            Readers.netcdfVarAttrs(f, "atmpres").get("offset")
              .flatMap(v => scala.util.Try(v.toDouble).toOption)
          else None
        val offset = meta.dbl("atmpres_offset").orElse(fileOffset).getOrElse(0.0)
        val tolUs = (meta.dbl("atmpres_tolerance_sec").getOrElse(5.0) * 1e6).toLong
        val l = df.withColumn("__tus", unix_micros(col("time")))
        val r = met0.select(unix_micros(col("time").cast("timestamp")).as("__rus"),
          col("atmpres").cast("double").as("__atm"))
        df = graft.ops.Align.asofNearest(l, r, "__tus", "__rus", tolUs)
          .withColumn(dstCol, col(srcCol) - col("__atm") - offset)
          .drop("__tus", "__rus", "__atm")
      case _ =>
        meta.dbl("atmpres").foreach { atm =>
          if (df.columns.contains(srcCol))
            df = df.withColumn(dstCol, col(srcCol) - atm)
        }
    }
    df
  }

  /** call_qaqc over `vars`: double NaNs become nulls first, then
    * Qaqc.applyAll's config-keyed trims ordered by `order` within `part`. */
  private def qaqc(df0: DataFrame, meta: Meta, vars: Seq[String],
                   order: Seq[String], part: Seq[String]): DataFrame = {
    val df = Trims.nanToNull(df0, vars.filter(c =>
      df0.schema(c).dataType.typeName == "double"))
    Qaqc.applyAll(df, meta, vars, order = order, part = part)
  }

  /** utils.create_z: a scalar sensor `z` = height_above_geopotential_datum
    * + initial_instrument_height, when the datum is configured. */
  private def createZ(df: DataFrame, meta: Meta): DataFrame =
    meta.dbl("height_above_geopotential_datum").fold(df)(d => df.withColumn("z",
      lit(d + meta.dbl("initial_instrument_height").getOrElse(0.0))))

  /** EPIC renames for the IQ flow series (iq.py:771-816 rename_vars,
    * restricted to the per-sample vars; the per-beam Profile_* renames
    * collapse into the long-format profile frame's `beam` dim). */
  private val iqFlowRenames = Seq(
    "Batt" -> "Bat_106", "Temp" -> "T_28", "Pitch" -> "Ptch_1216",
    "Roll" -> "Roll_1217", "Depth" -> "D_3", "Pressure" -> "P_1",
    "AdjustedPressure" -> "InstP_1ac", "SoundSpeed" -> "SV_80",
    "Pressure_ac" -> "P_1ac")

  /** Vars the reference drops from BOTH output datasets
    * (iq.py:119-153 dropvars; the per-beam ping-setup headers live in
    * sidecar attrs here, not columns). */
  private val iqDropVars = Seq(
    "SampleNumber", "SampleTime", "Volume_Total", "Volume_Positive",
    "Volume_Negative", "Vel", "HorizontalSkew", "PressOffsetAdjust",
    "InstrumentHeight", "NumberOfGoodCells", "Cell_Location_Center",
    "Cell_Location_Skew", "Z_Vel", "XL_Vel", "XR_Vel", "X_Vel")

  /** SonTek IQ clean (stglib/iq.py:43-170 cdf_to_nc): the IQ family emits
    * TWO products — the per-sample flow series and the (time, beam, bin)
    * profile frame — with its own ordering: atmos → clip → vel_to_ms →
    * bindepth/z → clean_iq → trim_iqvel → fill_snr → fill_vbper → renames
    * → qaqc → fill_velmean → create_z → the flow/profiles split. The
    * reference carries both in one xarray Dataset and splits on the
    * `Profile_` prefix at the end (iq.py:102-112); here the ingest step
    * already produced the two frames, so each chain step applies to the
    * frame that owns its variables, and the per-time couplings (pressure
    * for bindepth/trim, SNR for fill_snr) join flow→profiles on `time` —
    * an equi-join on the profile frame's own time key, broadcastable when
    * the flow series is small relative to bins×beams. */
  def iqClean(spark: SparkSession, meta0: Meta, input: String,
              output: String): Unit = {
    val meta = stepMeta(meta0, input)
    var flow = readStepInput(spark, input)
    var prof = readStepInput(spark, input + "_profiles")

    // aqdutils.atmos_correct runs on the raw `Pressure` name (iq.py:54;
    // Pressure_ac → P_1ac happens in rename_vars)
    flow = atmosCorrect(spark, flow, meta, "Pressure", "Pressure_ac")
    // clip_ds (iq.py:57): both frames share the deployment window
    flow = Clip.clipDs(flow, meta)
    prof = Clip.clipDs(prof, meta)
    // vel_to_ms (iq.py:59): every *Vel* var, mm/s → m/s (arrays included)
    flow = graft.io.Iq.velToMs(flow)
    prof = graft.io.Iq.velToMs(prof)

    // clean_iq sentinels (iq.py:814-830): raw-count fills → null BEFORE
    // any arithmetic (the reference nans them right after vel_to_ms
    // scaled them, so the sentinels scale too)
    val velSentinel = -214748368.0 / 1000.0
    if (flow.columns.contains("Vel_Mean"))
      flow = flow.withColumn("Vel_Mean",
        when(col("Vel_Mean") < lit(-214748.0), lit(null))
          .otherwise(col("Vel_Mean")))
    if (flow.columns.contains("Vel"))
      flow = flow.withColumn("Vel", transform(col("Vel"),
        x => when(x === lit(velSentinel), lit(null)).otherwise(x)))
    if (prof.columns.contains("Vel"))
      prof = prof.withColumn("Vel",
        when(col("Vel") === lit(velSentinel), lit(null)).otherwise(col("Vel")))
    if (prof.columns.contains("Amp"))
      prof = prof.withColumn("Amp",
        when(col("Amp") === lit(65535.0), lit(null)).otherwise(col("Amp")))
    if (prof.columns.contains("VelStd"))
      prof = prof.withColumn("VelStd",
        when(col("VelStd") < lit(0.0), lit(null)).otherwise(col("VelStd")))

    // per-time couplings from the flow frame: pressure (bindepth, trim)
    // and the 4-wide SNR array (fill_snr) — a plain equi-join on time.
    // The flow side is one row per deployment timestamp (bounded per
    // deployment, iq.py:510-538 operates file-at-a-time); no explicit
    // broadcast hint — AQE broadcasts when the side actually fits
    val presCol =
      if (flow.columns.contains("Pressure_ac")) Some("Pressure_ac")
      else if (flow.columns.contains("Pressure")) Some("Pressure")
      else None
    val sideCols = presCol.toSeq ++
      (if (flow.columns.contains("SNR")) Seq("SNR") else Nil)
    if (sideCols.nonEmpty) {
      val side = flow.select((col("time").as("__ftime") +:
        sideCols.map(c => col(c).as(s"__f_$c"))): _*)
      prof = prof.join(side, prof("time") === col("__ftime"), "left")
        .drop("__ftime")
    }

    // create_iqbindepth (iq.py:510-538): bin depth relative to sea surface
    // from (atmos-corrected) pressure ± bindist by orientation
    val orient = meta.str("orientation").map(_.toUpperCase).getOrElse("UP")
    presCol.foreach { p =>
      val pc = col(s"__f_$p")
      prof = prof.withColumn("bindepth",
        if (orient == "DOWN") pc + col("bindist") else pc - col("bindist"))
    }
    // create_iqz (iq.py:541-590): bin height vs geopotential datum
    for (datum <- meta.dbl("height_above_geopotential_datum")) {
      val base = datum + meta.dbl("initial_instrument_height").getOrElse(0.0)
      prof = prof.withColumn("z",
        if (orient == "DOWN") lit(base) - col("bindist")
        else lit(base) + col("bindist"))
    }

    // trim_iqvel (iq.py:593-658): bindist < P (optionally · cos(beam
    // angle) for "water level sl"); along beams (0,1) use the 25°
    // along-channel angle, across beams (2,3) the 60° across-channel one
    for (method <- meta.str("trim_method").map(_.toLowerCase)
         if method != "none" && presCol.nonEmpty && prof.columns.contains("Vel")) {
      val p = col(s"__f_${presCol.get}")
      val along = math.toRadians(meta.dbl("AlongChannelBeamAngle").getOrElse(25.0))
      val across = math.toRadians(meta.dbl("AcrossChannelBeamAngle").getOrElse(60.0))
      val limit = method match {
        case "water level" => p
        case "water level sl" =>
          p * when(col("beam") < 2, lit(math.cos(along)))
            .otherwise(lit(math.cos(across)))
        case _ => null
      }
      if (limit != null)
        prof = prof.withColumn("Vel",
          when(col("bindist") < limit, col("Vel")))
    }

    // fill_snr (iq.py:661-709): profile Vel gated by its own beam's SNR;
    // flow Vel_X/Z by the beam pairs, Vel_Mean by all four
    for (thr <- meta.dbl("snr_threshold")) {
      if (prof.columns.contains("Vel") && flow.columns.contains("SNR"))
        prof = prof.withColumn("Vel",
          when(element_at(col("__f_SNR"), col("beam") + 1) > thr, col("Vel")))
      if (flow.columns.contains("SNR")) {
        val snr = (i: Int) => element_at(col("SNR"), i + 1)
        def gate(c: String, cond: org.apache.spark.sql.Column): Unit =
          if (flow.columns.contains(c))
            flow = flow.withColumn(c, when(cond, col(c)))
        // the 4-wide raw beam array gates element-wise against its own
        // beam's SNR (ds["Vel"].where(ds.SNR > thr)) before rename_vars
        // splits it into the per-beam series
        if (flow.columns.contains("Vel"))
          flow = flow.withColumn("Vel",
            zip_with(col("Vel"), col("SNR"),
              (v, s) => when(s > thr, v)))
        gate("Vel_X_Center", snr(0) > thr && snr(1) > thr)
        gate("Vel_Z_Center", snr(0) > thr && snr(1) > thr)
        gate("Vel_X_Left", snr(2) > thr)
        gate("Vel_X_Right", snr(3) > thr)
        gate("Vel_Mean", snr(0) > thr && snr(1) > thr && snr(2) > thr && snr(3) > thr)
      }
    }
    // fill_vbper (iq.py:712-741): stage/area/range/depth gated on the
    // vertical-beam percent-good
    for (thr <- meta.dbl("vbper_threshold") if flow.columns.contains("VbPercentGood");
         v <- Seq("Depth", "Stage", "Area", "Range") if flow.columns.contains(v))
      flow = flow.withColumn(v, when(col("VbPercentGood") > thr, col(v)))

    // rename_vars (iq.py:771-816): per-beam vel series split out of the
    // 4-wide Vel array, then the EPIC scalar renames
    if (flow.columns.contains("Vel"))
      for (b <- 0 until 4)
        flow = flow.withColumn(s"vel${b + 1}_${1277 + b}",
          element_at(col("Vel"), b + 1))
    for ((from, to) <- iqFlowRenames if flow.columns.contains(from))
      flow = flow.withColumnRenamed(from, to)

    // call_qaqc (iq.py:84): config-keyed trims per frame; profile trims
    // partition by (beam, bin) so neighbor-sensitive passes run down time
    flow = qaqc(flow, meta, flow.columns.filterNot(_ == "time").toSeq,
      Seq("time"), Nil)
    prof = qaqc(prof, meta, prof.columns
      .filterNot(c => Seq("time", "beam", "bin").contains(c) || c.startsWith("__f_"))
      .toSeq, Seq("time"), Seq("beam", "bin"))

    // fill_velmean (iq.py:744-768): Vel_Mean masked wherever ANY
    // component velocity is missing
    if (flow.columns.contains("Vel_Mean")) {
      val velVars = Seq("Vel_X_Center", "Vel_Z_Center", "Vel_X_Left",
        "Vel_X_Right", "vel1_1277", "vel2_1278", "vel3_1279", "vel4_1280")
        .filter(flow.columns.contains)
      if (velVars.nonEmpty)
        flow = flow.withColumn("Vel_Mean",
          when(velVars.map(col(_).isNotNull).reduce(_ && _), col("Vel_Mean")))
    }
    // utils.create_z (iq.py:88): scalar sensor z for the flow series
    flow = createZ(flow, meta)

    // the flow/profiles split (iq.py:102-153): dropvars from both; the
    // long-format profile frame drops the flow-side join columns
    flow = Clip.dropVars(flow, iqDropVars)
    prof = Clip.dropVars(prof, iqDropVars.filterNot(_ == "Vel"))
    prof = prof.drop(prof.columns.filter(_.startsWith("__f_")).toSeq: _*)

    write(flow, output, meta, "Clipped, corrected, QA/QC applied (IQ flow).")
    write(prof, output + "_profiles", meta,
      "Clipped, corrected, QA/QC applied (IQ profiles).")
  }

  /** EofE ECHOLOGGER clean (stglib/eofe.py:66-155 cdf_to_nc, point-data
    * path): trim_alt → sound-speed-corrected brange → datum-referenced
    * seabed elevation → renames/drops → clip → burst product, then the
    * sample-dim burst average with call_qaqc → "-a" product. The adjusted
    * sound speed uses Mackenzie (1981) in place of gsw.sound_speed
    * (deviation documented at [[graft.functions.Physics.soundSpeedMackenzie]]).
    */
  def eofeClean(spark: SparkSession, meta0: Meta, input: String,
                output: String): Unit = {
    // probe the _profiles sibling UP FRONT: loud on remote schemes before
    // any output is written, file:-URI-aware locally — a silent miss
    // drops the profile product with no error
    val profFile = probeFile(input + "_profiles", "EofE _profiles sibling")
    val meta = stepMeta(meta0, input)
    var df = readStepInput(spark, input)
    val orient = meta.str("orientation").map(_.toUpperCase).getOrElse("DOWN")
    val iih = meta.dbl("initial_instrument_height").getOrElse(0.0)
    // pre-trim altitude snapshot: the reference trims Counts "using
    // altitude values before starting trimming" (eofe.py:714-716)
    val altRaw =
      if (df.columns.contains("altitudeM") && df.columns.contains("burst"))
        Some(df.select(col("burst"), col("sample"),
          col("altitudeM").as("__alt")))
      else None
    // trim_alt (eofe.py:700-747): data nulled where altitude leaves the
    // [Deadzone, Range] window; nulled altitude propagates to every var
    // exactly like the reference's sequential .where() loop
    val trimMethods = meta.strSeq("trim_method")
      .getOrElse(meta.str("trim_method").toSeq).map(_.toLowerCase)
    val dead = meta.dbl("EADeadzone_m").getOrElse(0.0)
    val rng = meta.dbl("EARange_m").getOrElse(Double.MaxValue)
    if (trimMethods.contains("altitude") && df.columns.contains("altitudeM")) {
      val ok = col("altitudeM") >= dead && col("altitudeM") <= rng
      for (v <- Seq("altitudeM", "counts", "temperatureC", "amplitudeFS")
           if df.columns.contains(v))
        df = df.withColumn(v, when(ok, col(v)))
    }
    // calc_cor_brange (eofe.py:373-416): travel time from the nominal
    // sound speed × adjusted sound speed at p = WATER_DEPTH − iih ±
    // median(altitude)/2 — the median is a 1-row broadcast, not a shuffle
    // of the data spine
    val svNom = meta.dbl("EASoundSpeed_mps")
    val salAvg = meta.dbl("average_salinity")
    val wd = meta.dbl("WATER_DEPTH")
    if (svNom.isDefined && salAvg.isDefined && wd.isDefined &&
        df.columns.contains("altitudeM") && df.columns.contains("temperatureC")) {
      val med = df.agg(expr("median(altitudeM)").as("__med"))
      df = df.crossJoin(broadcast(med))
      val p =
        if (orient == "DOWN") lit(wd.get - iih) + col("__med") / 2
        else lit(wd.get - iih) - col("__med") / 2
      val spd = graft.functions.Physics.soundSpeedMackenzie(
        lit(salAvg.get), col("temperatureC"), p)
      df = df.withColumn("brange",
        round(col("altitudeM") / svNom.get * spd, 3)).drop("__med")
    }
    // calc_boundary_elev (eofe.py:418-519): NAVD88_ref >
    // height_above_geopotential_datum > LMSL(WATER_DEPTH) precedence
    if (df.columns.contains("brange")) {
      val datum = meta.dbl("NAVD88_ref")
        .orElse(meta.dbl("height_above_geopotential_datum"))
      val be = datum match {
        case Some(d) =>
          if (orient == "DOWN") Some(lit(d) - col("brange") + iih)
          else Some(lit(d) + col("brange") + iih)
        case None => wd.map { w =>
          if (orient == "DOWN") lit(w) + col("brange") - iih
          else lit(w) - col("brange") - iih
        }
      }
      be.foreach(b => df = df.withColumn("boundary_elevation", round(b, 3)))
    }
    // utils.create_z
    for (d <- meta.dbl("NAVD88_ref")
           .orElse(meta.dbl("height_above_geopotential_datum")))
      df = df.withColumn("z", lit(d + iih))
    // profile echo counts (the reference's `bins` branch, eofe.py:74-79):
    // header bin geometry → bindist/bin_height, sound-speed-corrected
    // bin height off the burst-mean temperature (calc_cor_bin_height,
    // eofe.py:522-570), altitude-window trim on Counts, good_bins slice.
    // All per-burst sides are tiny broadcasts against the (burst, sample,
    // bin) spine.
    val profPath = input + "_profiles"
    if (profFile.exists) {
      var pf = readStepInput(spark, profPath)
      for (bs <- meta.dbl("EABin_size_m")) {
        // linspace(bs/2, (n-1)·bs + bs/2, n): center of 0-indexed bin
        pf = pf.withColumn("bindist", (col("bin") + 0.5) * bs)
        pf = pf.withColumn("bin_height",
          if (orient == "UP") lit(iih) + col("bindist")
          else lit(iih) - col("bindist"))
      }
      if (svNom.isDefined && salAvg.isDefined && wd.isDefined &&
          pf.columns.contains("bin_height") && df.columns.contains("temperatureC")) {
        val tmean = df.groupBy("burst").agg(avg("temperatureC").as("__tm"))
        // tmean is one row per burst (data-sized) — no forced broadcast;
        // AQE picks the build side when it fits
        pf = pf.join(tmean, Seq("burst"), "left")
        val spd = graft.functions.Physics.soundSpeedMackenzie(
          lit(salAvg.get), col("__tm"), lit(wd.get) - col("bin_height"))
        pf = pf.withColumn("cor_bin_height",
          round(col("bin_height") / svNom.get * spd, 3)).drop("__tm")
      }
      // trim_alt on Counts against the PRE-trim altitude of the same ping
      if (trimMethods.contains("altitude") && pf.columns.contains("counts"))
        altRaw.foreach { alt =>
          // The profile spine is bins × the ping count (160 M rows at the
          // ×100 probe) against one row per (burst, sample) ping. A plain
          // join plans as sort-merge, which SORTS the full profile side —
          // r16 tail profiling measured that sort's spill at ~60% of the
          // eofe/clean ×100 wall. SHUFFLE_HASH builds on the ping side
          // (bounded at |pings| / shuffle-partitions per task) and STREAMS
          // the profile side unsorted; forcing a broadcast instead would
          // ship a full-table copy to every executor on a long deployment.
          // The window predicate is pre-reduced to one boolean so the
          // build side carries 1 bit, not the altitude double (null alt
          // => null ok => counts nulled, same as the raw predicate).
          val ok = alt.select(col("burst"), col("sample"),
            (col("__alt") >= dead && col("__alt") <= rng).as("__ok"))
          // both exchanges widened with the profile size (parquet stats are
          // credible here): bounds the per-task hash build AND keeps the
          // probe-side shuffle blocks small under a tight heap
          val n = graft.ops.Index.scaledPartitions(pf)
          pf = pf.repartition(n, col("burst"), col("sample"))
            .join(ok.repartition(n, col("burst"), col("sample"))
              .hint("shuffle_hash"), Seq("burst", "sample"), "left")
            .withColumn("counts", when(col("__ok"), col("counts")))
            .drop("__ok")
        }
      // "bin range" trim (eofe.py:740-757): good_bins index slice
      if (trimMethods.contains("bin range"))
        meta.dblSeq("good_bins").filter(_.length == 2).foreach { gb =>
          pf = pf.filter(col("bin") >= gb(0).toInt && col("bin") < gb(1).toInt)
        }
      if (pf.columns.contains("counts"))
        pf = pf.withColumnRenamed("counts", "AGC_1202")
      pf = Clip.clipDs(pf, meta)
      write(pf, output + "_profiles", meta,
        "Trimmed profile echo data, corrected bin heights.")
      // sample-dim burst average of the profile counts (the reference's
      // single-ds mean("sample") covers Counts too). Averaging reads the
      // JUST-WRITTEN product back: two actions on the pf lineage would
      // re-run the whole trim/join pipeline per product (r16 ×100 tail
      // profiling: the profiles branch is ~90% of eofe/clean wall)
      val pfSaved = spark.read.parquet(output + "_profiles")
      val pvars = pfSaved.columns
        .filterNot(Seq("time", "burst", "sample", "bin").contains).toSeq
      if (pfSaved.columns.contains("burst") && pvars.nonEmpty) {
        val paggs = pvars.map(c => avg(col(c)).as(c))
        val pavg = pfSaved.groupBy("burst", "bin")
          .agg(min("time").as("time"), paggs: _*).drop("burst")
        write(pavg, sibling(output, "-a_profiles"), meta,
          "Burst-averaged profile echo product.")
      }
    }
    // ds_rename_vars (eofe.py:286-302) on the long-format names
    for ((from, to) <- Seq("temperatureC" -> "Tx_1211",
        "pitchDeg" -> "Ptch_1216", "rollDeg" -> "Roll_1217",
        "counts" -> "AGC_1202", "amplitudeFS" -> "AMP_723")
         if df.columns.contains(from))
      df = df.withColumnRenamed(from, to)
    // drops (eofe.py:97-105); altitudeM only once brange replaced it
    df = Clip.dropVars(df, Seq("ping", "pingNumInSeries", "batteryMV") ++
      (if (df.columns.contains("brange")) Seq("altitudeM") else Nil))
    df = Clip.clipDs(df, meta)
    write(df, output, meta,
      "Trimmed altimeter data, sound-speed-corrected brange.")
    // average_burst (eofe.py:572-585): mean across the sample dim, then
    // call_qaqc on the averaged product (the reference's qaqc placement).
    // Reads the just-written burst product back rather than re-running
    // the point chain's trim/median/brange lineage a second time.
    val dfSaved = spark.read.parquet(output)
    val dataVars = dfSaved.columns
      .filterNot(Seq("time", "burst", "sample").contains).toSeq
    var avgDf =
      if (dfSaved.columns.contains("burst") && dfSaved.columns.contains("sample"))
        dfSaved.groupBy("burst").agg(min("time").as("time"),
          dataVars.map(c => avg(col(c)).as(c)): _*)
          .drop("burst")
      else dfSaved
    if (avgDf.columns.contains("brange"))
      avgDf = avgDf.withColumn("brange", round(col("brange"), 3))
    avgDf = Qaqc.applyAll(avgDf, meta,
      avgDf.columns.filterNot(_ == "time").toSeq, order = Seq("time"), part = Nil)
    write(avgDf, sibling(output, "-a"), meta,
      "Burst-averaged altimeter product, QA/QC applied.")
  }

  /** AQUAscat ABSS clean (stglib/abss.py:58-145 cdf2nc): aux-channel
    * scale_vars → atmos → clip → bin depth → call_qaqc → burst product,
    * then the sample-dim mean with optional brange peak-tracking →
    * "-a" product. The ingest frames are (time, xdcr_freq, bin, sample)
    * long-format `abs` plus a per-(time, aux_sample) `aux` channel frame
    * (amp dB and the ascending-frequency axis happen at ingest). */
  def abssClean(spark: SparkSession, meta0: Meta, input: String,
                output: String): Unit = {
    val meta = stepMeta(meta0, input)
    var abs = readStepInput(spark, input)
    var aux = readStepInput(spark, input + "_aux")
    val orient = meta.str("orientation").map(_.toUpperCase).getOrElse("DOWN")
    // abs_rename (abss.py:256-272)
    if (aux.columns.contains("ExtTemperature"))
      aux = aux.withColumnRenamed("ExtTemperature", "Tx_1211")
    // scale_vars (abss.py:274-349): (x − offset) · barConvert · scale
    if (aux.columns.contains("Pressure")) {
      val off = meta.dbl("P_1_offset").getOrElse(0.0)
      val sc = meta.dbl("P_1_scale").getOrElse(1.0)
      val conv = if (meta.str("ABSPressureUnits").exists(_.equalsIgnoreCase("Bar")))
        10.0 else 1.0
      if (off != 0 || sc != 1 || conv != 1)
        aux = aux.withColumn("Pressure", (col("Pressure") - off) * conv * sc)
    }
    for ((v, okey, skey) <- Seq(("Tx_1211", "Tx_offset", "Tx_scale"),
        ("Battery", "Bat_offset", "Bat_scale")) if aux.columns.contains(v)) {
      val off = meta.dbl(okey).getOrElse(0.0)
      val sc = meta.dbl(skey).getOrElse(1.0)
      if (off != 0 || sc != 1)
        aux = aux.withColumn(v, (col(v) - off) * sc)
    }
    aux = atmosCorrect(spark, aux, meta, "Pressure", "Pressure_ac")
    abs = Clip.clipDs(abs, meta)
    aux = Clip.clipDs(aux, meta)
    // remove_aux_snum (abss.py:403-415): drop the leading aux sample so
    // aux_sample i+1 aligns with profile sample i
    if (aux.columns.contains("aux_sample"))
      aux = aux.filter(col("aux_sample") >= 1)
        .withColumn("sample", col("aux_sample") - 1).drop("aux_sample")
    // make_bin_depth: per-(time, sample) pressure joined onto the profile
    // spine — one row per burst×sample, i.e. linear in deployment length,
    // so no forced broadcast: AQE builds the small side when it fits
    val presCol = Seq("Pressure_ac", "Pressure").find(aux.columns.contains)
    presCol.filter(_ => aux.columns.contains("sample")).foreach { p =>
      val side = aux.select(col("time").as("__atime"),
        col("sample").as("__asample"), col(p).as("__P"))
      abs = abs.join(side,
        abs("time") === col("__atime") && abs("sample") === col("__asample"),
        "left").drop("__atime", "__asample")
      abs = abs.withColumn("bin_depth",
        if (orient == "DOWN") col("__P") + col("bindist")
        else col("__P") - col("bindist")).drop("__P")
    }
    abs = createZ(abs, meta)
    // call_qaqc over both frames
    abs = Qaqc.applyAll(abs, meta,
      abs.columns.filterNot(c => Seq("time", "xdcr_freq", "bin", "sample")
        .contains(c)).toSeq,
      order = Seq("time", "sample"), part = Seq("xdcr_freq", "bin"))
    aux = Qaqc.applyAll(aux, meta,
      aux.columns.filterNot(c => Seq("time", "sample").contains(c)).toSeq,
      order = Seq("time"), part = Nil)
    write(abs, output, meta, "Scaled, corrected, QA/QC applied (ABS bursts).")
    write(aux, output + "_aux", meta,
      "Scaled, corrected, QA/QC applied (ABS aux).")
    // burst average (abss.py:117-135): optional average_duration window
    // (samples_per_burst = duration · sample_rate), then mean over sample.
    // Reads the just-written burst product back — two actions on the abs
    // lineage would re-run the scale/atmos/qaqc pipeline per product.
    var toAvg = spark.read.parquet(output)
    for (dur <- meta.dbl("average_duration");
         rate <- meta.dbl("ABSAbsProfileRate").orElse(meta.dbl("sample_rate")))
      toAvg = toAvg.filter(col("sample") < (dur * rate).toInt)
    val absDataVars = toAvg.columns
      .filterNot(Seq("time", "xdcr_freq", "bin", "sample").contains).toSeq
    val absAggs = absDataVars.map(c => avg(col(c)).as(c))
    var avgDf = toAvg.groupBy("time", "xdcr_freq", "bin")
      .agg(absAggs.head, absAggs.tail: _*)
    // add_brange_abss (abss.py:441-487): per-time boundary = bindist of
    // the peak mean backscatter at the brange frequency, past the 0.2 m
    // blanking guard — a groupBy max_by, no window shuffle over bins
    if (meta.bool("brange").getOrElse(false) && avgDf.columns.contains("abs")) {
      val freqDf = avgDf.select(min("xdcr_freq").as("__minf"))
      val bfreq = meta.dbl("brange_freq")
      val cand = avgDf.crossJoin(broadcast(freqDf))
        .filter(col("xdcr_freq") === bfreq.map(lit).getOrElse(col("__minf")) &&
          col("bindist") > 0.2)
      val br = cand.groupBy("time")
        .agg(max_by(col("bindist"), col("abs")).as("brange"))
      // br is one row per burst time (data-sized) — plain join, AQE decides
      avgDf = avgDf.join(br, Seq("time"), "left")
    }
    val avgAux = {
      val vars = aux.columns.filterNot(c => Seq("time", "sample", "Battery")
        .contains(c)).toSeq
      if (vars.nonEmpty) {
        val aggs = vars.map(c => avg(col(c)).as(c))
        aux.drop("Battery").groupBy("time").agg(aggs.head, aggs.tail: _*)
      } else aux.drop("Battery").select("time").distinct()
    }
    val avgOut = sibling(output, "-a")
    write(Qaqc.applyAll(avgDf, meta,
        avgDf.columns.filterNot(c => Seq("time", "xdcr_freq", "bin").contains(c)).toSeq,
        order = Seq("time"), part = Seq("xdcr_freq", "bin")),
      avgOut, meta, "Created burst averaged data product")
    write(avgAux, avgOut + "_aux", meta, "Created burst averaged aux product")
  }

  /** check_and_reshape_burst's INFERENCE (stglib/lisst.py:427-444): from
    * the distinct timestamps, dt0 = the first diff; samples-per-burst =
    * the first index whose diff departs from dt0; rows past the last full
    * burst drop. Returns the (orig time µs → burst-start time, sample)
    * map — one row per deployment timestamp, joinable onto both the
    * scalar and the (time, ring) frames. None when the cadence never
    * breaks (continuous deployment) or the series is shorter than two
    * samples. Scale shape: positions come from Index.withGlobalPosition
    * (one ordered sweep — no single-partition window); the first cadence
    * break is a scan aggregate, exploiting that before the first break
    * the series is an exact arithmetic progression us0 + pos·dt0, so no
    * ordered lag is needed at all; burst start times come from a window
    * PARTITIONED by burst id. */
  private def lisstBurstMap(df: DataFrame): Option[DataFrame] = {
    import org.apache.spark.sql.expressions.Window
    // null times (clock dropouts) sort first and join to no burst
    val times = df.select(unix_micros(col("time")).as("__us"))
      .filter(col("__us").isNotNull).distinct()
    val head = times.orderBy("__us").limit(2).collect()
    if (head.length < 2) return None
    val us0 = head(0).getLong(0)
    val dt0 = head(1).getLong(0) - us0
    val pos = graft.ops.Index.withGlobalPosition(times, Seq("__us"), "__pos")
    // first position whose timestamp departs the dt0 progression == the
    // first index whose diff-from-previous departs dt0 (lisst.py:427-444)
    val firstBreak = pos.agg(min(when(
      col("__us") =!= lit(us0) + col("__pos") * lit(dt0), col("__pos"))),
      count(lit(1))).head()
    if (firstBreak.isNullAt(0)) return None
    val spb = firstBreak.getLong(0)
    val n = firstBreak.getLong(1)
    val keep = n - n % spb
    Some(pos.filter(col("__pos") < keep)
      .withColumn("__burst", expr(s"__pos div $spb"))
      .withColumn("sample", (col("__pos") % spb).cast("int"))
      .withColumn("__bstart",
        min("__us").over(Window.partitionBy("__burst")))
      .select(col("__us"), timestamp_micros(col("__bstart")).as("__newtime"),
        col("sample")))
  }

  /** LISST clean (stglib/lisst.py:37-76 cdf_to_nc): burst inference +
    * reshape BEFORE clip (the reference's order), then clip + call_qaqc
    * over BOTH products — the scalar engineering frame and the
    * (time, ring) volume-concentration frame share the burst map. */
  def lisstClean(spark: SparkSession, meta0: Meta, input: String,
                 output: String): Unit = {
    // probe the _vc sibling UP FRONT: loud on remote schemes before any
    // output is written, and file:-URI-aware locally (the old raw
    // java.io.File probe reported file:///… as absent, silently dropping
    // the volume-concentration product)
    val vcPath = input + "_vc"
    val vcFile = probeFile(vcPath, "LISST _vc sibling")
    val meta = stepMeta(meta0, input)
    var df = readStepInput(spark, input)
    val bmap =
      if (meta.str("operating_mode").exists(_.equalsIgnoreCase("burst")))
        lisstBurstMap(df)
      else None
    def reshape(d: DataFrame): DataFrame = bmap match {
      case Some(m) =>
        // plain equi-join (inner drops the partial tail): the map is one
        // row per deployment timestamp — AQE broadcasts it when it fits,
        // shuffles when a 100×-duration series wouldn't
        d.withColumn("__us", unix_micros(col("time")))
          .join(m, "__us")
          .withColumn("time", col("__newtime"))
          .drop("__us", "__newtime")
      case None => d
    }
    def qaqcOut(d0: DataFrame, keyCols: Seq[String], part: Seq[String],
                out: String, what: String): Unit = {
      val d = Clip.clipDs(reshape(d0), meta)
      write(qaqc(d, meta, d.columns.filterNot(keyCols.contains).toSeq,
        Seq("time") ++ (if (d.columns.contains("sample")) Seq("sample") else Nil),
        part), out, meta, s"Clipped, QA/QC applied ($what).")
    }
    qaqcOut(df, Seq("time", "sample"), Nil, output, "LISST scalars")
    if (vcFile.exists)
      qaqcOut(readStepInput(spark, vcPath), Seq("time", "sample", "ring"),
        Seq("ring"), output + "_vc", "LISST vc rings")
  }

  def clean(spark: SparkSession, meta0: Meta, input: String, output: String,
            instrument: String = ""): Unit = {
    // families with their own cdf_to_nc shapes and multi-product outputs
    // route to dedicated chains
    if (instrument == "iq") { iqClean(spark, meta0, input, output); return }
    if (instrument == "eofe" || instrument == "ea") {
      eofeClean(spark, meta0, input, output); return
    }
    if (instrument == "abss") { abssClean(spark, meta0, input, output); return }
    if (instrument == "lisst") { lisstClean(spark, meta0, input, output); return }
    cleanCommon(spark, meta0, input, output, instrument)
  }

  /** Raw parquet → deployment clip → atmospheric correction → instrument
    * velocity chain (when header attrs are present) → call_qaqc → clean
    * parquet. The input's attrs sidecar merges UNDER the config (config
    * wins) — the reference re-opens raw-.cdf attrs at each cdf2nc step. */
  private def cleanCommon(spark: SparkSession, meta0: Meta, input: String,
                          output: String, instrument: String): Unit = {
    val meta = stepMeta(meta0, input)
    var df = readStepInput(spark, input)
    // the sonar family clips AFTER qaqc (son/cdf2nc.py:85 runs clip_ds
    // following call_qaqc); every other family clips first (e.g.
    // exo.py:186, aqd) — neighbor-sensitive trims see the same rows as
    // the reference either way
    val clipAfterQaqc = instrument == "son"
    if (!clipAfterQaqc) df = Clip.clipDs(df, meta)
    // EXO renames (+ conductivity unit scaling + drop list) run BEFORE the
    // common atmos step: P_1 only exists after `press_dbar` renames
    // (exo.py:189 ds_rename_vars precedes utils.atmos_correct at :218)
    if (instrument == "exo") df = exoRename(df)
    df = atmosCorrect(spark, df, meta, "P_1", "P_1ac")
    // instrument-specific clean chain (the reference's per-instrument
    // cdf2nc orderings), selected by instrument; Aquadopp/HR keys on the
    // header attrs as before
    instrument match {
      case "sig" => df = sigChain(df, meta, input)
      case "vec" => df = vecChain(df, meta)
      case "son" => df = sonChain(spark, df, meta)
      case "rdi" => df = rdiChain(df, meta)
      case "met" => df = metChain(spark, df, meta)
      case _ => if (meta.has("AQDTransMatrix")) df = aqdVelocityChain(df, meta)
    }
    df = waterLevelVars(df, meta, instrument)
    df = qaqc(df, meta, df.columns.filterNot(Seq("time").contains).toSeq,
      Seq("time"), Nil)
    if (clipAfterQaqc) df = Clip.clipDs(df, meta)
    // EXO turbidity->SSC runs after call_qaqc in the reference
    // (exo.py:219-221), i.e. after the common qaqc tail here, and for
    // "Turb" only
    if (instrument == "exo") df = turbidityToSsc(df, meta, Seq("Turb"))
    // met wind-direction corrections also run after call_qaqc
    // (met.py:102-161: "remove bad rows ... before direction corrections")
    if (instrument == "met") df = metDirCorrections(df, meta)
    // glx filtered water level runs AFTER the water_level trims
    // (glx.py:114-128 ordering)
    if (instrument == "glx") df = glxFilteredWaterLevel(df, meta)
    write(df, output, meta, "Clipped, corrected, QA/QC applied.")
    // the sonar family writes TWO products (son/cdf2nc.py:96-134): the
    // full sweep-resolved file above and a sweep-averaged sibling;
    // averaging reads the just-written product back instead of re-running
    // the whole clean lineage for the second action
    if (instrument == "son")
      write(sonAvg(spark.read.parquet(output), meta), sibling(output, "-a"),
        meta, "Sweep-averaged sonar product.")
  }

  /** NAVD88 water-level products. The families differ
    * (create_water_level_var, utils.py:1650-1712;
    * create_filtered_water_level_var, utils.py:1716-1760):
    *  - rsk (rsk/cdf2nc.py:47-52) gates EVERYTHING on `filtered_wl: true`
    *    and drops the intermediate water_level after filtering;
    *  - hobo/sg (hobo.py:456-457, sg/cdf2nc.py:61) create water_level
    *    UNGATED whenever the NAVD88 datum is configured, keep it in the
    *    product, and add the filtered var only when `filtered_wl: true`.
    * water_level = pres2dep(P) + z (z = NAVD88_ref /
    * height_above_geopotential_datum + initial_instrument_height);
    * water_level_filt = the FIXED 4th-order 6-min-cutoff lowpass, skipped
    * (with the reference's message) when the series carries NaNs.
    * pres2dep uses the S/T columns (or average_salinity) when available
    * and falls back to the raw pressure otherwise (utils.py:1926-1985
    * branch order). */
  private[cli] def waterLevelVars(df0: DataFrame, meta: Meta,
                                  instrument: String): DataFrame = {
    val filtWl = meta.str("filtered_wl").exists(_.equalsIgnoreCase("true"))
    // only the rsk / hobo / Seagauge families create the NAVD88 water
    // level (rsk/cdf2nc.py:47-52, hobo.py:456-457, sg/cdf2nc.py:61);
    // aqd/sig use their own vertical dims, exo/vec/son never create it,
    // and glx gets its radar variant after qaqc
    if (!Set("rsk", "hobo", "sg", "sgtid", "sgwvs").contains(instrument))
      return df0
    val rskStyle = instrument == "rsk"
    if (rskStyle && !filtWl) return df0
    val hagd = meta.dbl("NAVD88_ref")
      .orElse(meta.dbl("height_above_geopotential_datum")
        .filter(_ => meta.str("geopotential_datum_name").contains("NAVD88")))
    // the reference always passes var="P_1ac" and SKIPS with a message
    // when it is absent (utils.py:1650, 1703-1707) — an uncorrected P_1
    // would bake ~10 dbar of atmosphere into the water level
    if (!df0.columns.contains("P_1ac") || hagd.isEmpty) {
      System.err.println("[runots] Cannot create water_level variable" +
        " without P_1ac and height_above_geopotential_datum relative to" +
        " NAVD88 in global attributes file.")
      return df0
    }
    val p = "P_1ac"
    val h = hagd.get
    // one materialization serves the NaN probe AND the final write —
    // tracked via Spread.shared so runStep's completion release frees the
    // blocks (localCheckpoint blocks outlive the step: ContextCleaner
    // reclaims them nondeterministically, which piled up across chains in
    // a long session until a 50M-row x100 run OOMed)
    var df = if (filtWl) graft.ops.Spread.shared(df0) else df0
    val z = h + meta.dbl("initial_instrument_height").getOrElse(0.0)
    val svar = meta.str("water_level_salinity_var").getOrElse("S_41")
    val wtvar0 = meta.str("water_level_temperature_var").getOrElse("T_28")
    // pres2dep branch order (utils.py:1935-1978): BOTH S and T columns,
    // else average_salinity + (T column or Tx_1211), else dep stays the
    // raw pressure — the reference never pairs an S COLUMN with Tx_1211
    val sT: Option[(org.apache.spark.sql.Column, org.apache.spark.sql.Column)] =
      if (df.columns.contains(svar) && df.columns.contains(wtvar0))
        Some((col(svar), col(wtvar0)))
      else meta.dbl("average_salinity").flatMap { s =>
        if (df.columns.contains(wtvar0)) Some((lit(s), col(wtvar0)))
        else if (df.columns.contains("Tx_1211")) Some((lit(s), col("Tx_1211")))
        else None
      }
    val dep = sT match {
      case Some((s, t)) => graft.functions.Physics.pres2dep(
        col(p), s, t, meta.dbl("latitude").getOrElse(0.0))
      case None => col(p)
    }
    df = df.withColumn("water_level", dep + lit(z))
    if (filtWl) {
      val hasNan = df.filter(col("water_level").isNull ||
        isnan(col("water_level"))).limit(1).count() > 0
      if (hasNan)
        System.err.println(
          "[runots] Cannot create filtered_water_level because" +
            " water_level contains NaNs")
      else {
        val sr = meta.dbl("sample_rate")
          .orElse(meta.dbl("sample_interval").map(1.0 / _))
          .getOrElse(throw new IllegalArgumentException(
            "Cannot create filtered_water_level without sample_rate or" +
              " sample_interval in global attributes"))
        val sos = graft.kernels.Butterworth.lowpass(4, 1.0 / 360.0, sr)
        df = graft.ops.Spectra.filterColumnWholeSeries(
            df.withColumn("water_level_filt", col("water_level")),
            Seq("time"), "water_level_filt", sos)
      }
    }
    if (rskStyle) df.drop("water_level") else df
  }

  /** Pandas-offset duration string ("60 s", "2 min", "1 h") → seconds. */
  private def parseOffsetSeconds(s: String): Double = {
    val m = "([0-9.]+)\\s*([a-zA-Z]*)".r.findFirstMatchIn(s.trim)
      .getOrElse(throw new IllegalArgumentException(s"bad duration: $s"))
    val v = m.group(1).toDouble
    m.group(2).toLowerCase match {
      case "" | "s" | "sec" | "secs" | "second" | "seconds" => v
      case "ms" => v / 1000
      case "min" | "t" | "minute" | "minutes" => v * 60
      case "h" | "hr" | "hour" | "hours" => v * 3600
      case other => throw new IllegalArgumentException(
        s"unsupported duration unit '$other' in '$s'")
    }
  }

  /** Geolux radar variant, run AFTER qaqc like the reference ordering
    * (glx.py:114-128: water_level trims → fill_time_gaps →
    * create_filtered_water_level). fill_time_gaps (glx.py:311-330) drops
    * duplicate times and reindexes EXACTLY onto the regular grid from the
    * first sample at 1/sample_rate, so outages that are missing ROWS
    * become null rows and count against the tolerance. Then
    * (glx.py:333-373): nulls are temporarily filled by the nearest valid
    * sample within `wlfilt_tolerance` (a pandas offset string, default
    * "60 s"), the fixed 6-min lowpass runs over the filled series, and
    * the result is re-nulled wherever the gap-filled water level was
    * null. Gaps past the tolerance leave the filtered variable all-null.
    * Sample rate falls back to the median of the first ten time deltas
    * (glx.py:101-107). */
  private[cli] def glxFilteredWaterLevel(df00: DataFrame, meta: Meta): DataFrame = {
    val filtWl = meta.str("filtered_wl").exists(_.equalsIgnoreCase("true"))
    if (!filtWl || !df00.columns.contains("water_level")) return df00
    val spark = df00.sparkSession
    val tolSec = parseOffsetSeconds(
      meta.str("wlfilt_tolerance").getOrElse("60 s"))
    // one materialization serves the sample-rate probe, the grid bounds,
    // the still-null probe and the final write — Spread.shared (not
    // localCheckpoint) so the step-completion release frees the blocks
    // deterministically
    val dd = graft.ops.Spread.shared(df00.dropDuplicates("time"))
    val sr = meta.dbl("sample_rate")
      .orElse(meta.dbl("sample_interval").map(1.0 / _))
      .getOrElse {
        // nulls sort first: a clock dropout must not become sample 0
        val ts = dd.filter(col("time").isNotNull).orderBy("time").limit(10)
          .select(unix_micros(col("time"))).collect().map(_.getLong(0))
        require(ts.length >= 2, "cannot infer sample_rate from < 2 samples")
        val diffs = ts.sliding(2).map(p => p(1) - p(0)).toArray.sorted
        1e6 / diffs(diffs.length / 2)
      }
    val stepUs = math.max(math.round(1e6 / sr), 1L)
    val mm = dd.agg(min(unix_micros(col("time"))).as("a"),
      max(unix_micros(col("time"))).as("b")).head()
    if (mm.isNullAt(0)) return df00
    val grid = graft.ops.Align.calendarGrid(spark, mm.getLong(0),
      mm.getLong(1) + 1, stepUs, "__gus")
    val df0 = grid.join(
        dd.withColumn("__gus", unix_micros(col("time"))).drop("time"),
        Seq("__gus"), "left")
      .withColumn("time", expr("timestamp_micros(__gus)")).drop("__gus")
    val l = df0.withColumn("__tus", unix_micros(col("time")))
    val good = df0
      .filter(col("water_level").isNotNull && !isnan(col("water_level")))
      .select(unix_micros(col("time")).as("__rus"),
        col("water_level").as("__wlg"))
    val filled = graft.ops.Spread.shared(
      graft.ops.Align.asofNearest(l, good, "__tus", "__rus",
          (tolSec * 1e6).toLong)
        .withColumn("water_level_filt", col("__wlg"))
        .drop("__tus", "__rus", "__wlg"))
    val stillNull = filled.filter(col("water_level_filt").isNull ||
      isnan(col("water_level_filt"))).limit(1).count() > 0
    if (stillNull) {
      System.err.println("[runots] Gaps in valid water level exceed" +
        s" tolerance ($tolSec s) and filtered water level will be null")
      return filled.withColumn("water_level_filt", lit(null).cast("double"))
    }
    val sos = graft.kernels.Butterworth.lowpass(4, 1.0 / 360.0, sr)
    graft.ops.Spectra.filterColumnWholeSeries(filled, Seq("time"),
        "water_level_filt", sos)
      .withColumn("water_level_filt",
        when(col("water_level").isNull || isnan(col("water_level")),
          lit(null).cast("double")).otherwise(col("water_level_filt")))
  }

  /** Shared waves/diwasp input resolution: read the clean parquet, pick the
    * pressure variable (P_1ac → P_1 → `pressure`, the .wad ingest naming,
    * stglib/aqd/wvswad2cdf.py), and burst-reshape continuous inputs.
    * Returns (bursts, presVar, nsamps, fs, z). */
  private def waveInput(spark: SparkSession, meta: Meta, input: String)
      : (DataFrame, String, Int, Double, Double) = {
    val df = readStepInput(spark, input)
    val presVar =
      if (df.columns.contains("P_1ac")) "P_1ac"
      else if (df.columns.contains("P_1")) "P_1"
      else "pressure"
    val nsamps = meta.int("wave_nsamps").getOrElse(512)
    val fs = 1.0 / meta.dbl("sample_interval").getOrElse(1.0)
    val z = meta.dbl("pressure_sensor_height")
      .orElse(meta.dbl("initial_instrument_height")).getOrElse(0.0)
    val bursts =
      if (df.columns.contains("burst") && df.columns.contains("sample")) df
      else Burst.fromContinuous(df, order = Seq("time"), part = Nil,
        nsamps = nsamps, burstCol = "burst", sampleCol = "sample")
    (bursts, presVar, nsamps, fs, z)
  }

  /** Clean parquet → burst reshape → wave statistics → stat trims.
    * Already-burst-indexed inputs (.wad ingest output) skip the reshape;
    * inputs with u/v velocity columns route through the PUV path (the
    * reference's vec/aqdwvs nc2waves, stglib/core/waves.py:1847-1989)
    * when `wave_vars: puv` is configured. */
  def waves(spark: SparkSession, meta0: Meta, input: String, output: String): Unit = {
    val meta = stepMeta(meta0, input)
    val (bursts, presVar, nsamps, fs, z) = waveInput(spark, meta, input)
    val puvVars = meta.str("wave_vars").contains("puv") &&
      Seq("u", "v").forall(bursts.columns.contains)
    var stats =
      if (puvVars)
        Spectra.puvStats(bursts, "burst", "sample", presVar, "u", "v",
          depth = meta.dbl("WATER_DEPTH").getOrElse(10.0),
          zp = z, zuv = meta.dbl("velocity_sample_height").getOrElse(z),
          fs = fs, fftLength = math.min(nsamps, 512)).toDF()
      else Spectra.waveStatsFromPressure(bursts, "burst", "sample", presVar,
        fs = fs, z = z,
        nsegs = meta.int("spec_nsegs").getOrElse(16),
        fcut = meta.dbl("wave_fcut"),
        kpmin = meta.dbl("wave_Kpmin")).toDF()
    // wave-product trims (stglib/core/utils.py:752-828) — pressure-path
    // outputs only (the PUV stats carry their own variable set)
    def hasWaveVars = Seq("wp_peak", "wh_4061", "wp_4060")
      .forall(stats.columns.contains)
    meta.dbl("wp_max").filter(_ => hasWaveVars).foreach { m =>
      val c = col("wp_peak") < m && col("wp_4060") < m
      stats = stats.withColumn("wp_peak", when(c, col("wp_peak")))
        .withColumn("wp_4060", when(c, col("wp_4060")))
    }
    meta.dbl("wh_min").filter(_ => hasWaveVars).foreach { m =>
      for (v <- Seq("wp_peak", "wh_4061", "wp_4060"))
        stats = stats.withColumn(v, when(col("wh_4061") > m, col(v)))
    }
    meta.dbl("wh_max").filter(_ => hasWaveVars).foreach { m =>
      for (v <- Seq("wp_peak", "wh_4061", "wp_4060"))
        stats = stats.withColumn(v, when(col("wh_4061") < m, col(v)))
    }
    // trim_wp_ratio (stglib/core/utils.py:809-828): fill both period vars
    // where wp_peak:wp_4060 >= ratio
    meta.dbl("wp_ratio").filter(_ => hasWaveVars).foreach { r =>
      val c = col("wp_peak") / col("wp_4060") < r
      stats = stats.withColumn("wp_peak", when(c, col("wp_peak")))
        .withColumn("wp_4060", when(c, col("wp_4060")))
    }
    write(stats, output, meta, "Wave statistics computed.")
  }

  /** Directional wave analysis — the reference's `nc2diwasp` step
    * (stglib/core/runcmd.py + core/waves.py:155-306): burst-reshaped
    * pressure + horizontal velocities → DIWASP directional spectra. Writes
    * the per-burst stats (Hs/Tp/Dtp/Dp) to `output`, and the full
    * S(freq, dir) grid to `output_dspec` when `diwasp_dspec: true` is
    * configured (the reference's `dspec` variable). Estimator, direction
    * resolution, nfft, and frequency limits all come from metadata, like
    * the reference's make_diwasp_inputs. */
  def diwasp(spark: SparkSession, meta0: Meta, input: String, output: String): Unit = {
    val meta = stepMeta(meta0, input)
    val (bursts, presVar, nsamps, fs, z) = waveInput(spark, meta, input)
    require(Seq("u", "v").forall(bursts.columns.contains),
      "diwasp step needs u/v velocity columns (PUV-capable input)")
    val depth = meta.dbl("WATER_DEPTH").getOrElse(10.0)
    val zuv = meta.dbl("velocity_sample_height").getOrElse(z)
    val nfft = meta.int("diwasp_nfft").getOrElse(math.min(nsamps, 256))
    val dres = meta.int("diwasp_dres").getOrElse(90)
    val method = meta.str("diwasp_method").getOrElse("DFTM")
    val miter = meta.int("diwasp_miter")
      .getOrElse(if (method.equalsIgnoreCase("IMLM")) 5 else 0)
    val fmin = meta.dbl("diwasp_fmin").getOrElse(0.05)
    val fmax = meta.dbl("diwasp_fmax").getOrElse(0.45)
    def note(what: String) = s"DIWASP $method $what computed."
    if (meta.bool("diwasp_dspec").contains(true)) {
      // one kernel run per burst serves BOTH outputs: the grid rows carry
      // the per-burst stats, so the estimator isn't executed twice
      val grid = graft.ops.Spread.shared(
        Spectra.diwaspSpectrumWithStats(bursts, "burst", "sample", presVar,
          "u", "v", depth = depth, zp = z, zuv = zuv, fs = fs, nfft = nfft,
          dres = dres, method = method, miter = miter,
          fmin = fmin, fmax = fmax).toDF())
      write(
        grid.select("burst", "hs", "tp", "dtp", "dp", "nfreq", "ndir").distinct(),
        output, meta, note("directional statistics"))
      write(grid.select("burst", "freq", "dir", "s"), output + "_dspec", meta,
        note("directional spectrum grid"))
    } else {
      val stats = Spectra.diwaspStats(bursts, "burst", "sample", presVar, "u", "v",
        depth = depth, zp = z, zuv = zuv, fs = fs, nfft = nfft, dres = dres,
        method = method, miter = miter, fmin = fmin, fmax = fmax).toDF()
      write(stats, output, meta, note("directional statistics"))
    }
  }
}
