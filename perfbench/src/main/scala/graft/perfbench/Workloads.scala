package graft.perfbench

import graft.cli.RunOts
import graft.core.Meta
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** The inputs one run made with [[Workload.prepare]]. */
final case class Prepared(dir: String, inputRows: Long, inputBytes: Long) {
  def path(name: String): String = new java.io.File(dir, name).getAbsolutePath
}

/** One operation of a pass: `key` names it in the per-operation metrics,
  * and the harness opens span `span` around it. */
final case class Op(key: String, span: String)

/** What a workload's calls need: the session, the span recorder, and, in
  * a traced run, the listener that yields the Catalyst phase times of each
  * action the benchmark forces itself. */
final class Ctx(val spark: SparkSession, val tr: Tracer,
                counters: Option[SparkCounters] = None) {
  val phases = ArrayBuffer.empty[(Long, Long, Long)]

  private def record(): Unit = counters.flatMap(_.lastPhases()).foreach(phases += _)

  /** Run `df`'s whole plan and discard the rows (a `noop`-format write), so
    * a lazy layer call does its work inside the caller's span. */
  def force(df: DataFrame): Unit = {
    df.write.format("noop").mode("overwrite").save()
    record()
  }

  /** Collect `df`'s fingerprint aggregate; this is the action that forces
    * a registered query. */
  def fingerprint(name: String, df: DataFrame): Product = {
    val p = Fingerprint.table(name, df)
    record()
    p
  }
}

trait Workload {
  def name: String
  /** Operations of one pass, in call order. */
  def ops: Seq[Op]
  /** Run one operation; returns the products it checks itself. */
  def run(c: Ctx, in: Prepared, op: Op): Seq[Product]
  /** Generate the inputs for `seed` under `dir`. */
  def prepare(spark: SparkSession, seed: Long, dir: String): Prepared
  /** Fingerprint what the last pass left on disk. */
  def check(c: Ctx, in: Prepared): Seq[Product] = Nil
  /** A problem with a product that needs no reference pass to see. */
  def expect(in: Prepared, p: Product): Option[String] =
    if (p.rows <= 0) Some(s"${p.name}: empty output") else None
  /** Bytes one pass leaves on disk. */
  def outputBytes(in: Prepared): Long = 0L
  /** Called after each operation, outside its timing. */
  def afterOp(spark: SparkSession): Unit = ()
  /** Traced runs only: direct calls into the layers under the operations,
    * each inside its own span. Returns the metrics spans alone do not give. */
  def layers(c: Ctx, in: Prepared): Map[String, Double] = Map.empty
}

object Workloads {
  val all: Seq[Workload] = Seq(WaveChain, OpsMix)
  def byName(n: String): Option[Workload] = all.find(_.name == n)
}

/** The RBR pressure-logger wave chain (SURVEY §7.3) through the runots
  * dispatch: CSV ingest -> clean -> waves -> diwasp (IMLM) -> netCDF-3
  * export, one deployment of `Bursts` bursts of 512 samples at 1 Hz. */
object WaveChain extends Workload {
  val name = "wave_chain"
  val Bursts = 128
  val Nsamps = 512
  val Nsegs = 4
  val Nfft = 128
  val Dres = 36
  val Miter = 5
  val Z = 0.5
  val Depth = 10.5

  val meta: Meta = Meta(Map[String, Any](
    "MOORING" -> "9999", "WATER_DEPTH" -> Depth, "latitude" -> 30.0,
    "Deployment_date" -> "2024-02-01 00:00", "Recovery_date" -> "2024-03-01 00:00",
    "sample_interval" -> 1.0, "initial_instrument_height" -> Z,
    "pressure_sensor_height" -> Z, "P_1_max" -> 50.0,
    "wave_nsamps" -> Nsamps, "spec_nsegs" -> Nsegs, "wh_min" -> 0.01,
    "diwasp_method" -> "IMLM", "diwasp_nfft" -> Nfft, "diwasp_dres" -> Dres,
    "diwasp_miter" -> Miter))

  def prepare(spark: SparkSession, seed: Long, dir: String): Prepared = {
    val rows = Bursts.toLong * Nsamps
    val csv = Inputs.waveCsv(spark, seed, rows, dir)
    Prepared(dir, rows, Fingerprint.bytesUnder(csv))
  }

  private val steps = Seq(
    ("ingest", "deployment.csv", "raw"), ("clean", "raw", "clean"),
    ("waves", "clean", "waves"), ("diwasp", "clean", "diwasp"),
    ("export", "clean", "clean.nc"))

  val ops: Seq[Op] = steps.map { case (step, _, _) => Op(s"step_$step", s"cli.step.$step") }

  def run(c: Ctx, in: Prepared, op: Op): Seq[Product] = {
    val (step, src, dst) = steps(ops.indexOf(op))
    RunOts.runStep(c.spark, "rsk", step, meta, in.path(src), in.path(dst))
    Nil
  }

  override def check(c: Ctx, in: Prepared): Seq[Product] =
    Seq("raw", "clean", "waves", "diwasp").map(n =>
      Fingerprint.table(n, c.spark.read.parquet(in.path(n)))) :+
      Fingerprint.file("clean.nc", in.path("clean.nc"),
        graft.io.Netcdf3.read(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(in.path("clean.nc")))).numrecs)

  override def expect(in: Prepared, p: Product): Option[String] = {
    val want = p.name match {
      case "raw" | "clean" | "clean.nc" => in.inputRows
      case _ => Bursts.toLong
    }
    if (p.rows != want) Some(s"${p.name}: ${p.rows} rows, expected $want") else None
  }

  override def outputBytes(in: Prepared): Long =
    Seq("raw", "clean", "waves", "diwasp", "clean.nc")
      .map(n => Fingerprint.bytesUnder(in.path(n))).sum

  /** FFT-dominated flop estimate (5 N log2 N per length-N transform plus
    * 4 N for detrend, window and power) — computed, not counted. */
  private def fftFlops(n: Int): Double = 5.0 * n * (math.log(n) / math.log(2)) + 4.0 * n

  override def layers(c: Ctx, in: Prepared): Map[String, Double] = {
    import graft.io.{Netcdf3, Readers, Sink}
    import graft.ops.{Burst, Clip, Qaqc, Spectra, Spread}
    val spark = c.spark
    val tr = c.tr
    val out = in.path("layers")
    val (bursts, presVar) = tr.span("layers") {
      tr.span("io.read")(c.force(Readers.readInstrumentCsv(spark, in.path("deployment.csv"), meta)))
      tr.span("ops.clip_qaqc") {
        val raw = Clip.clipDs(spark.read.parquet(in.path("raw")), meta)
        val vars = raw.columns.filterNot(_ == "time").toSeq
        c.force(Qaqc.applyAll(raw, meta, vars, order = Seq("time"), part = Nil))
      }
      val clean = spark.read.parquet(in.path("clean"))
      val presVar = if (clean.columns.contains("P_1ac")) "P_1ac" else "P_1"
      val bursts = tr.span("ops.burst") {
        val b = Spread.shared(Burst.fromContinuous(clean, order = Seq("time"),
          part = Nil, nsamps = Nsamps, burstCol = "burst", sampleCol = "sample"))
        c.force(b)
        b
      }
      tr.span("ops.wave_stats")(c.force(Spectra.waveStatsFromPressure(bursts,
        "burst", "sample", presVar, fs = 1.0, z = Z, nsegs = Nsegs).toDF()))
      tr.span("ops.diwasp")(c.force(Spectra.diwaspStats(bursts, "burst", "sample",
        presVar, "u", "v", depth = Depth, zp = Z, zuv = Z, fs = 1.0, nfft = Nfft,
        dres = Dres, method = "IMLM", miter = Miter, fmin = 0.05, fmax = 0.45).toDF()))
      tr.span("io.parquet_write")(Sink.writeParquet(clean, s"$out/clean",
        meta, float32 = false))
      tr.span("io.netcdf_write") {
        val df = clean.select(col("time").cast("double").as("time") +:
          clean.columns.filterNot(_ == "time").map(col): _*).orderBy("time")
        Netcdf3.write(df, s"$out/clean.nc",
          meta.attrs.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString })
      }
      (bursts, presVar)
    }
    // the kernels' inputs: the same bursts, collected into local arrays
    val arrays = bursts.groupBy("burst").agg(
        sort_array(collect_list(struct(col("sample"), col(presVar), col("u"), col("v")))).as("s"))
      .orderBy("burst").collect().map { r =>
        val s = r.getSeq[org.apache.spark.sql.Row](1)
        Array(s.map(_.getDouble(1)).toArray, s.map(_.getDouble(2)).toArray,
          s.map(_.getDouble(3)).toArray)
      }
    Spread.release(spark)
    tr.span("kernels") {
      tr.span("kernels.welch")(arrays.foreach(a =>
        graft.kernels.Spectral.waveStatsFromPressure(a(0), 1.0, Z, Nsegs)))
      tr.span("kernels.diwasp")(arrays.foreach(a =>
        graft.kernels.Diwasp.dirspec(a, Array("pres", "velx", "vely"),
          Array(Array(0.0, 0.0, 0.0), Array(0.0, 0.0, 0.0), Array(Z, Z, Z)),
          Depth, 1.0, Nfft, Dres, "IMLM", Miter, 0.05, 0.45)))
    }
    // computed work per burst: Welch runs half-overlapped segments of
    // nextPow2(nsamps / nsegs) points; DIWASP runs 9 cross-spectra over
    // nsamps / nfft segments, then the IMLM estimator's (miter + 1) sweeps
    // of szd^2 = 9 complex multiply-adds per (frequency, direction) cell.
    // Bytes: Welch reads the pressure series, DIWASP pressure, u and v.
    val welchSeg = graft.kernels.Welch.nextPow2(Nsamps / Nsegs)
    val welch = ((Nsamps - welchSeg) / (welchSeg / 2) + 1) * fftFlops(welchSeg)
    val nfBand = (1 to Nfft / 2).count { i => val f = i.toDouble / Nfft; f >= 0.05 && f <= 0.45 }
    val diwasp = 9.0 * (Nsamps / Nfft) * 2 * fftFlops(Nfft) +
      (Miter + 1.0) * 2 * 9 * 8 * nfBand * Dres
    val b = arrays.length.toDouble
    Map("kernels.flops" -> b * (welch + diwasp),
      "kernels.bytes" -> b * Nsamps * 8.0 * (1 + 3),
      "io.bytes_written" -> (Fingerprint.bytesUnder(s"$out/clean") +
        Fingerprint.bytesUnder(s"$out/clean.nc")).toDouble)
  }
}

/** The ops- and Spark-heavy mix: the runots clean step of two
  * non-wave instrument families (their `graft.tools.ChainFixtures`
  * invocations, glx's gap fill and whole-series filter included), then
  * registered queries forced the way `graft.Bench` times them, with
  * `Spread.release` and `BoundedMemo.clearAll` between operations. */
object OpsMix extends Workload {
  val name = "ops_mix"
  /** Rows of each family's raw fixture. */
  val Rows = 2000L
  /** family -> (raw fixture it reads, product it writes) */
  val Families = Seq("glx/clean" -> ("glxraw", "glxclean"),
    "hobo/clean" -> ("hoboraw", "hoboclean"))
  val Events = 10000L
  val Docs = 500L
  val Embs = 500L
  val Queries = Seq("interp_linear", "bm25_retrieve")

  def prepare(spark: SparkSession, seed: Long, dir: String): Prepared = {
    val in = Prepared(dir, Rows * Families.size + Events + Docs + Embs, 0L)
    Inputs.fleet(spark, seed, Rows, in.path)
    Inputs.registryTables(spark, seed, Events, Docs, Embs, in.path("tables"))
    in.copy(inputBytes = Fingerprint.bytesUnder(dir))
  }

  private lazy val cases = graft.tools.ChainFixtures.all.map(c => c.label -> c).toMap

  val ops: Seq[Op] = Families.map { case (f, _) =>
    val key = f.replace('/', '_')
    Op(s"family_$key", s"cli.family.$key")
  } ++ Queries.map(q => Op(s"q_$q", s"queries.q.$q"))

  def run(c: Ctx, in: Prepared, op: Op): Seq[Product] = {
    val i = ops.indexOf(op)
    if (i < Families.size) {
      cases(Families(i)._1).run(c.spark, in.path)
      Nil
    } else {
      val q = Queries(i - Families.size)
      val df = c.tr.span("queries.construct")(
        graft.SparkEntry.queries(q)(c.spark, in.path("tables")))
      Seq(c.tr.span("queries.exec")(c.fingerprint(q, df)))
    }
  }

  override def check(c: Ctx, in: Prepared): Seq[Product] =
    Families.map { case (_, (_, out)) => Fingerprint.table(out, c.spark.read.parquet(in.path(out))) }

  // a query may legitimately return no rows on some seed; queries are held
  // to the reference pass only
  override def expect(in: Prepared, p: Product): Option[String] =
    if (Queries.contains(p.name)) None else super.expect(in, p)

  override def outputBytes(in: Prepared): Long =
    Families.map { case (_, (_, out)) => Fingerprint.bytesUnder(in.path(out)) }.sum

  override def afterOp(spark: SparkSession): Unit = {
    graft.ops.Spread.release(spark)
    graft.ops.BoundedMemo.clearAll()
  }

  override def layers(c: Ctx, in: Prepared): Map[String, Double] = {
    val spark = c.spark
    c.tr.span("layers") {
      // the glx gap fill's as-of: a 1 s calendar grid against the valid
      // samples, nearest within 60 s
      c.tr.span("ops.asof") {
        val raw = spark.read.parquet(in.path("glxraw"))
          .select(unix_micros(col("time")).as("us"), col("water_level"))
        val mm = raw.agg(min("us"), max("us")).head()
        val grid = graft.ops.Align.calendarGrid(spark, mm.getLong(0),
          mm.getLong(1) + 1, 1000000L, "__tus")
        val good = raw.filter(col("water_level").isNotNull)
          .select(col("us").as("__rus"), col("water_level"))
        c.force(graft.ops.Align.asofNearest(grid, good, "__tus", "__rus", 60000000L))
      }
      // the hobo filtered water level's whole-series lowpass
      c.tr.span("ops.filter_whole_series")(c.force(
        graft.ops.Spectra.filterColumnWholeSeries(spark.read.parquet(in.path("hoboraw")),
          Seq("time"), "P_1", graft.kernels.Butterworth.lowpass(4, 1.0 / 360.0, 1.0))))
    }
    Map.empty
  }
}
