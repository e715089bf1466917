package graft.io

import graft.core.Meta
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Metadata, MetadataBuilder}

/**
 * Instrument-file ingest framework (SURVEY §2.1). The reference's ~20 CSV
 * readers share one shape: parse header/config → read the tabular section →
 * rename raw columns to the EPIC/CF vocabulary → attach per-variable
 * attributes → timestamp column. This module provides that shape on
 * spark.read.csv for the generic EPIC-named CSV, plus the CF metadata and
 * netCDF re-open every reader shares; the instrument dialects with their
 * own header blocks (EXO, HOBO, TOA5, ...) are declarations read by
 * [[Dialects.read]], and binary formats (PD0/81R/MAT5) layer a decoder in
 * front.
 */
object Readers {

  /** EPIC/CF rename vocabulary (stglib/rsk/csv2cdf.py:295-328 rename_vars,
    * stglib/aqd/aqdutils.py:10-75 ds_rename, stglib/exo.py:256-312). */
  val epicRenames: Map[String, String] = Map(
    "Pressure" -> "P_1", "pressure" -> "P_1",
    "Pressure_ac" -> "P_1ac",
    "Temperature" -> "T_28", "temperature" -> "T_28", "temp" -> "T_28",
    "Salinity" -> "S_41", "salinity" -> "S_41", "sal" -> "S_41",
    "Conductivity" -> "C_51", "conductivity" -> "C_51",
    "SpecificConductivity" -> "SpC_48", "spccond" -> "SpC_48",
    "Turbidity" -> "Turb", "turbidity" -> "Turb",
    "East" -> "u_1205", "Eastward" -> "u_1205",
    "North" -> "v_1206", "Northward" -> "v_1206",
    "Up" -> "w_1204", "Vertical" -> "w_1204",
    "Heading" -> "Hdg_1215", "Pitch" -> "Ptch_1216", "Roll" -> "Roll_1217",
    "Depth" -> "D_3", "depth" -> "D_3",
    "significant_wave_height" -> "wh_4061",
    "peak_period" -> "wp_peak", "mean_period" -> "wp_4060",
    "wave_direction" -> "wd_4062")

  /** CF standard_name/units lookup for renamed variables
    * (ds_add_attrs family, stglib/core/utils.py:352-403). */
  val cfAttrs: Map[String, (String, String)] = Map(
    "P_1" -> ("sea_water_pressure", "dbar"),
    "P_1ac" -> ("sea_water_pressure_due_to_sea_water", "dbar"),
    "T_28" -> ("sea_water_temperature", "degree_C"),
    "S_41" -> ("sea_water_practical_salinity", "1"),
    "C_51" -> ("sea_water_electrical_conductivity", "S m-1"),
    "Turb" -> ("sea_water_turbidity", "NTU"),
    "u_1205" -> ("eastward_sea_water_velocity", "m s-1"),
    "v_1206" -> ("northward_sea_water_velocity", "m s-1"),
    "w_1204" -> ("upward_sea_water_velocity", "m s-1"),
    "wh_4061" -> ("sea_surface_wave_significant_height", "m"),
    "wp_peak" -> ("sea_surface_wave_period_at_variance_spectral_density_maximum", "s"),
    "wp_4060" -> ("sea_surface_wave_mean_period", "s"),
    "wd_4062" -> ("sea_surface_wave_from_direction", "degree"))

  /** Read an instrument CSV with a known header line, rename to EPIC names,
    * cast the `time` column to a timestamp, and stamp CF metadata. */
  def readInstrumentCsv(spark: SparkSession, path: String, meta: Meta): DataFrame = {
    val raw = spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .option("mode", "PERMISSIVE")
      .csv(path)
    val renamed = raw.columns.foldLeft(raw) { (df, c) =>
      epicRenames.get(c).map(n => df.withColumnRenamed(c, n)).getOrElse(df)
    }
    val withTime =
      if (!renamed.columns.contains("time")) renamed
      else renamed.withColumn("time", col("time").cast("timestamp"))
    withCfMetadata(withTime)
  }

  /** Attach CF standard_name/units into StructField.metadata — the engine's
    * ds[var].attrs (SURVEY §1.5 mapping). */
  def withCfMetadata(df: DataFrame): DataFrame =
    cfAttrs.foldLeft(df) { case (d, (name, (std, units))) =>
      if (!d.columns.contains(name)) d
      else {
        val md: Metadata = new MetadataBuilder()
          .withMetadata(d.schema(name).metadata)
          .putString("standard_name", std)
          .putString("units", units)
          // per-variable ACDD attribute the IOOS checker expects on every
          // geophysical variable; all EPIC-renamed vars are measurements
          .putString("coverage_content_type", "physicalMeasurement")
          .build()
        d.withColumn(name, col(name).as(name, md))
      }
    }

  /** shift_time + ClockError applied at ingest (stglib/core/utils.py:997-1029). */
  def applyClockError(df: DataFrame, timeCol: String, meta: Meta): DataFrame =
    meta.dbl("ClockError") match {
      case Some(sec) if sec != 0 =>
        df.withColumn(timeCol,
          col(timeCol) - expr(s"INTERVAL ${sec.toLong} SECOND"))
      case _ => df
    }

  /** CF "units since epoch" time decode: returns (epoch in microseconds,
    * microseconds per unit), or None if the units string is not a
    * recognized `<unit> since <timestamp>` form — the single source for
    * both the unit table and the epoch parse. */
  private[io] def cfTimeBase(units: String): Option[(Long, Double)] = {
    val m = "(?i)(seconds|minutes|hours|days|milliseconds)\\s+since\\s+(.+)".r
    // a trailing UTC offset (CF: "seconds since 1992-10-8 15:15:42.5 -6:00";
    // also -0600 / +05:30 / -8 forms) is only an offset when it FOLLOWS a
    // time-of-day — a bare date's "-01" day must not match
    val offRe = "(?s)(.*\\d:\\d{2}.*?)\\s+([+-]\\d{1,2}(?::?\\d{2})?)$".r
    units.trim match {
      case m(unit, epoch0) =>
        val epoch = epoch0.trim.replace("T", " ")
        val stripped = epoch.stripSuffix("Z").stripSuffix(" UTC").trim
        val (noOff, offMicros) = stripped match {
          case offRe(base, off) =>
            val sign = if (off.startsWith("-")) -1L else 1L
            val digits = off.drop(1).replace(":", "")
            val (hh, mm) =
              if (digits.length <= 2) (digits.toInt, 0)
              else (digits.dropRight(2).toInt, digits.takeRight(2).toInt)
            (base.trim, sign * (hh * 3600L + mm * 60L) * 1000000L)
          case _ => (stripped, 0L)
        }
        // normalize fractional seconds to exactly 6 digits so one .SSSSSS
        // pattern covers ".5" through ".123456789"
        val cleaned = "\\.(\\d+)$".r.replaceAllIn(noOff,
          mm => "." + (mm.group(1) + "000000").take(6))
        val base =
          try {
            val fmts = Seq("yyyy-MM-dd HH:mm:ss.SSSSSS", "yyyy-MM-dd HH:mm:ss",
              "yyyy-MM-dd HH:mm", "yyyy-MM-dd",
              "yyyy-M-d H:m:s.SSSSSS", "yyyy-M-d H:m:s",
              "yyyy-M-d H:m", "yyyy-M-d")
            fmts.view.flatMap { f =>
              try Some(java.time.LocalDateTime.parse(cleaned,
                java.time.format.DateTimeFormatter.ofPattern(f)))
              catch {
                case _: Exception =>
                  try Some(java.time.LocalDate.parse(cleaned,
                    java.time.format.DateTimeFormatter.ofPattern(f)).atStartOfDay())
                  catch { case _: Exception => None }
              }
            }.headOption
          } catch { case _: Exception => None }
        base.map { b =>
          val perUnit = unit.toLowerCase match {
            case "seconds" => 1e6
            case "minutes" => 6e7
            case "hours" => 3.6e9
            case "days" => 8.64e10
            case "milliseconds" => 1e3
          }
          // a timestamp carrying offset O denotes the instant local − O
          (b.toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000L +
            b.getNano / 1000L - offMicros, perUnit)
        }
      case _ => None
    }
  }

  /** Microseconds since the Unix epoch for one raw CF coordinate value. */
  private[io] def cfEpochMicros(units: String, v: Double): Option[Long] =
    cfTimeBase(units).map { case (e, per) => e + math.round(v * per) }

  /** Open a netCDF file of EITHER family — netCDF-4/HDF5 ([[Hdf5.open]],
    * incl. chunked/DEFLATE layouts) or classic CDF-1/CDF-5
    * ([[Netcdf3]]) — as a DataFrame: every 1-D numeric variable over the
    * time dimension becomes a double column; the `time` coordinate is
    * decoded from its CF `units = "<unit> since <epoch>"` attribute into
    * a timestamp column (raw values kept as `time_raw` when decode
    * applies). This is the re-open path for the reference's .nc/.cdf
    * products (xr.load_dataset, stglib/core/utils.py:862-877): runots
    * ingest and the --atmpres aux input accept real netCDF without a
    * conversion step.
    *
    * Bounded by design: single netCDF product files are decoded in
    * driver memory before parallelize (the same single-file bound as the
    * export side's toLocalIterator); the raw 100 TB path is parquet. */
  def readNetcdf(spark: SparkSession, path: String): DataFrame = {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    // (1-D series columns, 2-D profile columns as (nBins, row-major data),
    // attr lookup)
    val (cols, profs, attrsOf): (Seq[(String, Array[Double])],
        Seq[(String, Int, Array[Double])], String => Map[String, String]) =
      if (isHdf5(bytes)) {
        val h5 = Hdf5.open(bytes)
        val numeric = h5.datasets.filter(d => "iuf".contains(d.dtype.head))
        val oneD = numeric.filter(_.dims.length <= 1)
        val nMax = oneD.map(_.n).maxOption.getOrElse(0L)
        val keep = oneD.filter(_.n == nMax)
        // (time × bin) profile variables long-format alongside the series
        // (the Aquadopp/Signature clean-product shape)
        val twoD = numeric.filter(d =>
          d.dims.length == 2 && d.dims.head == nMax)
        (keep.map(d => d.name -> Hdf5.column(bytes, d)),
         twoD.map(d => (d.name, d.dims(1).toInt, Hdf5.column(bytes, d))),
         (nm: String) => h5.datasets.find(_.name == nm).map(_.attrs).getOrElse(Map.empty))
      } else {
        val nc = Netcdf3.read(bytes)
        // 1-D RECORD variables only: fixed-size variables live before the
        // record section and do not stride with records
        val recVars = nc.vars.filter(v =>
          nc.header.isRecord(v) && v.dimids.length == 1)
        (recVars.map(v => v.name -> nc.column(v.name)), Nil,
         (nm: String) => nc.vars.find(_.name == nm).map(_.attrs).getOrElse(Map.empty))
      }
    require(cols.nonEmpty, s"$path: no 1-D numeric variables")
    val n = cols.head._2.length
    val nBins = profs.map(_._2).distinct match {
      case Seq() => 0
      case Seq(b) => b
      case many => throw new IllegalArgumentException(
        s"$path: profile variables disagree on bin count: $many")
    }
    val names = cols.map(_._1) ++
      (if (nBins > 0) Seq("bin") else Nil) ++ profs.map(_._1)
    // long format: one row per (time) — or per (time, bin) when profile
    // variables exist, with the per-time series values repeated per bin
    val rows =
      if (nBins == 0)
        (0 until n).map(i => org.apache.spark.sql.Row.fromSeq(cols.map(_._2(i))))
      else
        for (i <- 0 until n; b <- 0 until nBins) yield
          org.apache.spark.sql.Row.fromSeq(cols.map(_._2(i)) ++
            Seq(b.toDouble) ++ profs.map(_._3(i * nBins + b)))
    val schema = org.apache.spark.sql.types.StructType(names.map(nm =>
      org.apache.spark.sql.types.StructField(nm,
        org.apache.spark.sql.types.DoubleType)))
    var df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(1, rows.length / 65536)),
      schema)
    // CF time decode
    names.find(_ == "time").foreach { tn =>
      cfTimeBase(attrsOf(tn).getOrElse("units", "")).foreach {
        case (epochUs, scale) =>
          df = df.withColumnRenamed("time", "time_raw")
            .withColumn("time", expr(
              s"timestamp_micros(CAST(round(time_raw * $scale) AS BIGINT) + ${epochUs}L)"))
      }
    }
    df
  }


  private[io] def isHdf5(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 && (bytes(0) & 0xff) == 0x89 && bytes(1) == 'H'

  /** One parse of a netCDF file's METADATA (either family): global attrs
    * + per-variable attrs. Product files are bounded, so re-opening for
    * data later (readNetcdf) is one extra bounded read, not a scale
    * concern — but metadata consumers share this single parse. */
  def netcdfMeta(path: String): (Map[String, String], Map[String, Map[String, String]]) = {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    if (isHdf5(bytes)) {
      val h5 = Hdf5.open(bytes)
      (h5.attrs, h5.datasets.map(d => d.name -> d.attrs).toMap)
    } else {
      val nc = Netcdf3.read(bytes)
      (nc.attrs, nc.vars.map(v => v.name -> v.attrs).toMap)
    }
  }

  /** Global attributes of a netCDF file of either family — the re-read
    * of raw-.cdf attrs the reference does at each cdf2nc step
    * (stglib/core/utils.py check_update_attrs). */
  def netcdfGlobalAttrs(path: String): Map[String, String] = netcdfMeta(path)._1

  /** One variable's attributes from a netCDF file of either family
    * (e.g. the atmpres `offset` the reference applies in atmos_correct,
    * stglib/core/utils.py:1386-1399). Empty map if the variable is
    * absent. */
  def netcdfVarAttrs(path: String, varName: String): Map[String, String] =
    netcdfMeta(path)._2.getOrElse(varName, Map.empty)

}
