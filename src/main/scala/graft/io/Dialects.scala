package graft.io

import graft.core.Meta
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/**
 * Delimited-text instrument dialects: Marotte (stglib/mar.py:12-39),
 * Geolux/Campbell TOA5 (stglib/glx.py:12-65, stglib/met.py:30-47), Lowell
 * TCM (stglib/tcm.py:13-50), Mayfly (stglib/met.py:9-27), WET Labs ECO
 * NTU/PAR (stglib/eco.py:8-97), SBE 37 MicroCAT .asc (stglib/mc.py:7-57),
 * Aqua TROLL (stglib/troll.py:118-152), TruBlue 255 (stglib/tb.py:9-103),
 * SonTek Argonaut .dat (stglib/argonaut.py:15-27), SBE 26plus .tid
 * (stglib/sg/tid2cdf.py), YSI EXO (stglib/exo.py:9-137) and Onset HOBO
 * (stglib/hobo.py:11-45). Each is a declared [[Dialect]], and one reader,
 * [[read]], reads them all: the reference's parameterised read_csv (skip
 * rows, separator, names) over Spark's own splittable text scan.
 *
 * Header policy: the header block is read on the driver through a bounded
 * stream, so only the bytes holding those lines are read, and decoded as
 * [[Config.decodeText]] decodes a config file: UTF-8, else Latin-1, with
 * the BOM stripped. Names such as `°C` and `µS/cm` match in either
 * encoding.
 *
 * Which lines are data: the lines of one `spark.read.text` scan, run
 * inside the step's write job, that are not blank, are not byte for byte
 * one of the header lines (compared as raw bytes, whatever the header's
 * encoding) and pass the dialect's `data` test. In a `lenient` dialect a
 * line with fewer fields than declared, or with a numeric field that does
 * not parse, is not data either; in the others such a line fails the read
 * with Spark's typed error (the sessions run ANSI casts).
 */
object Dialects {

  /** Where a file's header block ends. */
  sealed trait Header
  /** The first `n` lines. */
  final case class Lines(n: Int) extends Header
  /** Every line through the first one `last` accepts. */
  final case class Through(last: String => Boolean) extends Header

  /** A dialect's column names and types, by field position. */
  sealed trait Columns
  /** Declared as Spark DDL. Fields named `_` are skipped; time parts are
    * STRING; a NOT NULL column is asserted non-null. */
  final case class Fixed(ddl: String) extends Columns
  /** The fields of header line `line` (negative: counted from the end),
    * mapped by `name`; each a nullable DOUBLE, or BIGINT where `long`
    * holds. */
  final case class Named(line: Int = -1, name: String => String = identity,
                         long: String => Boolean = _ => false) extends Columns

  /** Where `time` lands among the product's columns. */
  sealed trait Place
  case object First extends Place
  /** Where its first part's field was. */
  case object AtPart extends Place
  case object Last extends Place

  /** How `time` is built: the columns `parts` picks from the names (none:
    * the product has no time column), joined by one space and parsed with
    * `format`, or with Spark's default timestamp parse. */
  final case class Time(parts: Seq[String] => Seq[String],
                        format: Option[String] = None, at: Place = AtPart,
                        notNull: Boolean = false)

  /** One delimited-text format. Fields are split on the regex `sep` after
    * the line is trimmed, trailing empty fields dropped (as String.split
    * drops them), then trimmed, and unquoted when `quoted`. A field equal
    * to `missing` reads as null; `scales` convert units by column. With
    * `byTime` the rows come ordered by time. */
  final case class Dialect(
      header: Header,
      sep: String,
      columns: Columns,
      time: Time,
      quoted: Boolean = false,
      missing: Option[String] = None,
      scales: Map[String, Column => Column] = Map.empty,
      data: Column => Column = _ => lit(true),
      lenient: Boolean = false,
      byTime: Boolean = false)

  private def parts(names: String*): Seq[String] => Seq[String] = _ => names

  /** Marotte csv: one title line, then 9 fixed unnamed columns. */
  val marotte: Dialect = Dialect(Lines(1), ",", Fixed("time STRING, " +
    "speed DOUBLE NOT NULL, heading DOUBLE NOT NULL, speed_upper DOUBLE NOT NULL, " +
    "speed_lower DOUBLE NOT NULL, tilt DOUBLE NOT NULL, direction DOUBLE NOT NULL, " +
    "batt DOUBLE NOT NULL, temp DOUBLE NOT NULL"), Time(parts("time")))

  /** Geolux and Campbell TOA5: line 0 logger metadata, line 1 column names,
    * lines 2-3 units/aggregation; TIMESTAMP → time, RECORD columns BIGINT,
    * everything else DOUBLE, so "NAN" reads as NaN (glx.py:38-44,
    * met.py:30-47). */
  val toa5: Dialect = Dialect(Lines(4), ",", Named(1, long = _.contains("RECORD")),
    Time(parts("TIMESTAMP"), at = Last), quoted = true, byTime = true)

  /** Lowell TCM _CR.txt: `skipRows` header rows, then (DateTime, Speed,
    * Bearing, Velocity-N, Velocity-E). */
  def tcm(skipRows: Int): Dialect = Dialect(Lines(skipRows), ",", Fixed("time STRING, " +
    "speed DOUBLE NOT NULL, bearing DOUBLE NOT NULL, vel_n DOUBLE NOT NULL, " +
    "vel_e DOUBLE NOT NULL"), Time(parts("time")))

  /** EnviroDIY Mayfly: `skipRows` preamble rows, a header row, -9999 =
    * missing. */
  def mayfly(skipRows: Int): Dialect = Dialect(Lines(skipRows + 1), ",", Named(),
    Time(parts("Date and Time in UTC"), at = Last), missing = Some("-9999"))

  /** WET Labs ECO NTU/PAR tab-separated log: (date, time, [a,] counts
    * [, b]); `countsIdx` is the counts field (PAR=2, NTU=3). */
  def eco(countsIdx: Int): Dialect = {
    require(countsIdx >= 2, s"eco counts column $countsIdx overlaps date and time")
    Dialect(Lines(0), "\t", Fixed((Seq("date STRING", "clock STRING") ++
        Seq.fill(countsIdx - 2)("_ STRING") :+ "counts DOUBLE NOT NULL").mkString(", ")),
      Time(parts("date", "clock"), Some("MM/dd/yy HH:mm:ss")), lenient = true)
  }

  /** SBE 37 MicroCAT .asc: `*` header and prompt lines, then (Temp, Cond,
    * Sal, Date, Time) rows. */
  val microcat: Dialect = Dialect(Lines(0), ",", Fixed("temp DOUBLE NOT NULL, " +
      "cond DOUBLE NOT NULL, sal DOUBLE NOT NULL, date STRING, clock STRING"),
    Time(parts("date", "clock"), Some("dd MMM yyyy HH:mm:ss"), at = First),
    data = !_.startsWith("*"), lenient = true)

  private val trollNames = Map(
    "Temperature (C)" -> "temperature",
    "Actual Conductivity (µS/cm)" -> "conductivity",
    "Pressure (kPa)" -> "pressure", "Pressure (PSI)" -> "pressure",
    "Date and Time (UTC)" -> "time", "Date and Time" -> "time")

  /** Aqua TROLL exported csv: `skipRows` preamble rows, then a header row
    * with unit suffixes, renamed; the timestamp column becomes `time`
    * (troll.py:118-152). */
  def troll(skipRows: Int): Dialect = Dialect(Lines(skipRows + 1), ",",
    Named(name = n => trollNames.getOrElse(n, n)), Time(_.filter(_ == "time")))

  /** TruBlue 255 csv: a keyword header block through "ID,Name,Address",
    * then (ID, Name, Address, time, Elapsed, P_1, T_28) rows
    * (tb.py:9-103). */
  val truBlue: Dialect = Dialect(Through(_.contains("ID,Name,Address")), ",",
    Fixed("_ STRING, _ STRING, _ STRING, time STRING, elapsed DOUBLE NOT NULL, " +
      "P_1 DOUBLE NOT NULL, T_28 DOUBLE NOT NULL"), Time(parts("time")), lenient = true)

  /** SonTek Argonaut .dat: whitespace columns under a header row; Year Month
    * Day Hour Minute Second assemble into `time`, the rest keep their
    * header names (stglib/argonaut.py:15-27). */
  val argonautDat: Dialect = Dialect(Through(_.trim.nonEmpty), "\\s+", Named(),
    Time(parts("Year", "Month", "Day", "Hour", "Minute", "Second"),
      Some("y M d H m s"), at = Last))

  /** SBE 26plus .tid (tid2cdf.read_tid): whitespace rows (sample, date,
    * time, P[psia], T); pressure converted to dbar. */
  val tid: Dialect = Dialect(Lines(0), "\\s+", Fixed("sample BIGINT NOT NULL, " +
      "date STRING, clock STRING, P_1 DOUBLE NOT NULL, T_28 DOUBLE NOT NULL"),
    Time(parts("date", "clock"), Some("MM/dd/yyyy HH:mm:ss")),
    scales = Map("P_1" -> (_ * Seagauge.PsiaToDbar)))

  /** YSI EXO sonde CSV (stglib/exo.py:9-137): `skipRows` preamble rows,
    * then a column row whose names are lowercased, " " → "_" and
    * "/" → "_per_" (exo.py:51,93-94; the EPIC rename map is keyed by these:
    * temp_°c, spcond_µs_per_cm, ...); the first date and time columns merge
    * into `time`. */
  def exo(skipRows: Int): Dialect = Dialect(Lines(skipRows + 1), ",",
    Named(name = _.toLowerCase.replace(" ", "_").replace("/", "_per_")),
    Time(ns => (ns.find(_.contains("date")),
        ns.find(h => h.contains("time") && !h.contains("fract"))) match {
      case (Some(d), Some(t)) => Seq(d, t)
      case _ => Nil
    }, Some("M/d/yyyy H:mm:ss"), at = Last, notNull = true))

  /** Onset HOBO CSV (stglib/hobo.py:11-45): a serial-number title row and
    * a header row, then (#, DateTime, AbsPres kPa, Temp C); kPa pressure is
    * stored as dbar after /10 (ds_rename_vars, hobo.py:95-154). */
  def hobo(skipRows: Int): Dialect = Dialect(Lines(skipRows + 1), ",",
    Fixed("_ STRING, DateTime STRING, AbsPres_dbar DOUBLE, T_28 DOUBLE"),
    Time(parts("DateTime"), Some("MM/dd/yy hh:mm:ss a"), at = Last),
    scales = Map("AbsPres_dbar" -> (_ / 10.0)))

  /** The dialect `runots <instrument> ingest` reads `path` with, if the
    * instrument has one. `skiprows` and `eco_counts_col` are its only
    * config keys; a met file is Campbell TOA5 when its first line says so,
    * else a Mayfly log. */
  def of(spark: SparkSession, instrument: String, meta: Meta,
         path: String): Option[Dialect] = {
    def skip(default: Int) = meta.int("skiprows").getOrElse(default)
    instrument match {
      case "exo" => Some(exo(skip(8)))
      case "hobo" => Some(hobo(skip(1)))
      case "tcm" => Some(tcm(skip(1)))
      case "marotte" => Some(marotte)
      case "eco" => Some(eco(meta.int("eco_counts_col").getOrElse(
        if (meta.str("INST_TYPE").exists(_.toUpperCase.contains("PAR"))) 2 else 3)))
      case "troll" => Some(troll(skip(69)))
      case "mc" => Some(microcat)
      case "argonaut" => Some(argonautDat)
      case "tb" => Some(truBlue)
      case "glx" => Some(toa5)
      case "met" =>
        val first = headerBlock(spark, path, Lines(1))._2.headOption.getOrElse("")
        Some(if (first.startsWith("\"TOA5\"") || first.startsWith("TOA5")) toa5
             else mayfly(skip(7)))
      case _ => None
    }
  }

  /** Spaces and control characters, which String.trim strips. */
  private val Blank = (0 to 0x20).map(_.toChar).mkString

  /** `path` read as dialect `d`. */
  def read(spark: SparkSession, path: String, d: Dialect): DataFrame = {
    val (raw, head) = headerBlock(spark, path, d.header)
    def fields(l: String): Seq[String] = {
      val f = l.trim.split(d.sep).toSeq.map(_.trim)
      if (d.quoted) f.map(_.stripPrefix("\"").stripSuffix("\"")) else f
    }
    val cols = d.columns match {
      case Fixed(ddl) => StructType.fromDDL(ddl).fields.toSeq
      case Named(line, name, long) =>
        fields(head(if (line < 0) head.size + line else line)).map(name)
          .map(n => StructField(n, if (long(n)) LongType else DoubleType))
    }
    val timeParts = d.time.parts(cols.map(_.name))
    val absent = timeParts.filterNot(p => cols.exists(_.name == p))
    require(absent.isEmpty, s"$path: no ${absent.mkString(", ")} column for time")
    val line = trim(col("value"), Blank)
    val header = if (raw.isEmpty) lit(false) else col("value").cast("binary").isin(raw.map(lit): _*)
    val scanned = spark.read.text(path)
      .filter(length(line) > 0 && !header && d.data(col("value")))
      .select(split(regexp_replace(line, s"(?:${d.sep})+$$", ""), d.sep).as("f"))
    def field(i: Int): Column = {
      val f = trim(element_at(col("f"), i + 1), Blank)
      if (d.quoted) regexp_replace(f, "^\"|\"$", "") else f
    }
    val fieldAt = cols.map(_.name).zipWithIndex.toMap
    val values = cols.zipWithIndex.collect {
      case (c, i) if c.name != "_" && !timeParts.contains(c.name) =>
        val s = d.missing.fold(field(i))(m => when(field(i) === m, lit(null)).otherwise(field(i)))
        val v = if (d.lenient) s.try_cast(c.dataType) else s.cast(c.dataType)
        (i, c, d.scales.get(c.name).fold(v)(_(v)))
    }
    val rows = if (!d.lenient) scanned else scanned
      .filter(values.foldLeft(size(col("f")) >= cols.size)(_ && _._3.isNotNull))
    val kept = values.map { case (_, c, v) => (if (c.nullable) v else notNull(v)).as(c.name) }
    val out = timeParts.map(p => field(fieldAt(p))).reduceOption((a, b) => concat(a, lit(" "), b))
      .fold(kept) { s =>
        val t0 = d.time.format.fold(to_timestamp(s))(to_timestamp(s, _))
        val t = (if (d.time.notNull) notNull(t0) else t0).as("time")
        d.time.at match {
          case First => t +: kept
          case Last => kept :+ t
          case AtPart =>
            val (before, after) = kept.splitAt(values.count(_._1 < fieldAt(timeParts.head)))
            (before :+ t) ++ after
        }
      }
    val df = rows.select(out: _*)
    if (d.byTime) df.orderBy("time") else df
  }

  private def notNull(c: Column): Column =
    GraftColumnBridge.column(AssertNotNull(GraftColumnBridge.expression(c)))

  /** The header block of `path`: each line's raw bytes, as the text scan
    * sees them (a leading UTF-8 BOM dropped), and the lines decoded. Lines
    * end at LF, CR or CRLF, as in Hadoop's line reader. */
  private def headerBlock(spark: SparkSession, path: String,
                          h: Header): (Seq[Array[Byte]], Seq[String]) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val in = new java.io.BufferedInputStream(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p))
    try {
      val lines = Iterator.continually {
        val b = new java.io.ByteArrayOutputStream()
        var c = in.read()
        while (c != -1 && c != '\n' && c != '\r') { b.write(c); c = in.read() }
        if (c == '\r') { in.mark(1); if (in.read() != '\n') in.reset() }
        if (c == -1 && b.size == 0) None else Some(b.toByteArray)
      }.takeWhile(_.isDefined).flatten
      val block = h match {
        case Lines(n) =>
          val b = lines.take(n).toVector
          require(b.size == n, s"$path: shorter than its $n-line header block")
          b
        case Through(last) =>
          val (body, rest) = lines.span(l =>
            !last(new String(l, java.nio.charset.StandardCharsets.ISO_8859_1)))
          val b = body.toVector
          require(rest.hasNext, s"$path: no line ends its header block")
          b :+ rest.next()
      }
      val raw = block.headOption.map { l =>
        if (l.startsWith(Array(0xEF, 0xBB, 0xBF).map(_.toByte))) l.drop(3) else l
      }.toSeq ++ block.drop(1)
      (raw, Config.decodeText(raw.flatMap(_ :+ '\n'.toByte).toArray).split("\n", -1)
        .toSeq.take(raw.size))
    } finally in.close()
  }

  /** One Argonaut two-header-row table (.vel/.snr/.std share the shape,
    * stglib/argonaut.py:44-131): row 1 carries the per-cell group labels
    * (Cell01 Cell01 …), row 2 the field names (Vx Vy Spd Dir / SNR1 SNR2 /
    * Errx Erry); combined names are group_field exactly like the
    * reference's `"_".join` over the pandas MultiIndex. Columns 1–6 are
    * Y/M/D/H/M/S (the reference's parse_dates=[[1,2,3,4,5,6]] is
    * positional). Returns the combined header names plus the rows as
    * (timestamp string, combined name → value). */
  private def argonautTable(
      text: String): (Seq[String], Seq[(String, Map[String, Double])]) = {
    val lines = text.linesIterator.filter(_.trim.nonEmpty).toSeq
    require(lines.length >= 3, "argonaut profile table too short")
    val g = lines(0).trim.split("\\s+")
    val f = lines(1).trim.split("\\s+")
    require(g.length == f.length,
      s"argonaut header rows disagree: ${g.length} vs ${f.length} columns")
    val names = g.zip(f).map { case (a, b) => s"${a}_$b" }.toSeq
    (names, lines.drop(2).map { l =>
      val c = l.trim.split("\\s+")
      val ts = f"${c(1).toInt}%04d-${c(2).toInt}%02d-${c(3).toInt}%02d " +
        f"${c(4).toInt}%02d:${c(5).toInt}%02d:${c(6).toInt}%02d"
      ts -> (7 until math.min(c.length, names.length))
        .map(i => names(i) -> c(i).toDouble).toMap
    })
  }

  /** SonTek Argonaut profile deployment (stglib/argonaut.py:44-131
    * read_vel_snr_std): the .vel/.snr/.std tables long-formatted to one
    * row per (time, bin) with bindist = BlankDistance + bin·CellSize +
    * CellSize/2 from the .ctl ("per Argonaut manual, blanking distance is
    * distance to start of first cell"), plus the .dat `Level` series
    * joined per time. Column names follow the reference's lower-cased
    * vars (vx/vy/spd/dir/snr1/snr2/errx/erry/level). */
  def readArgonautProfile(spark: SparkSession, velText: String,
                          snrText: String, stdText: String, ctlText: String,
                          datPath: Option[String]): DataFrame = {
    var blank = Double.NaN; var cs = Double.NaN
    ctlText.linesIterator.foreach { row =>
      val last = row.trim.split("\\s+").lastOption
      if (row.contains("BlankDistance"))
        last.foreach(v => blank = v.toDouble)
      else if (row.contains("CellSize"))
        last.foreach(v => cs = v.toDouble)
    }
    require(!blank.isNaN && !cs.isNaN,
      "argonaut .ctl missing BlankDistance/CellSize")
    val (velNames, vel) = argonautTable(velText)
    val snr = argonautTable(snrText)._2.toMap
    val std = argonautTable(stdText)._2.toMap
    // numbins from the HEADER names (the reference derives it from the
    // variable names, argonaut.py:63-66) — never from the first data
    // row, whose ragged trailing cells would undercount bins for the
    // whole deployment
    val numbins = velNames.count(_.endsWith("_Vy"))
    require(numbins > 0, "argonaut .vel has no Cell*_Vy columns")
    val rows = for ((ts, m) <- vel; k <- 0 until numbins) yield {
      val cell = f"Cell${k + 1}%02d"
      def at(src: Map[String, Double], fld: String): Any =
        src.get(s"${cell}_$fld").map(Double.box).orNull
      org.apache.spark.sql.Row(ts, k,
        blank + k * cs + cs / 2.0,
        at(m, "Vx"), at(m, "Vy"), at(m, "Spd"), at(m, "Dir"),
        at(snr.getOrElse(ts, Map.empty), "SNR1"),
        at(snr.getOrElse(ts, Map.empty), "SNR2"),
        at(std.getOrElse(ts, Map.empty), "Errx"),
        at(std.getOrElse(ts, Map.empty), "Erry"))
    }
    import org.apache.spark.sql.types._
    val schema = StructType(
      StructField("ts", StringType) +: StructField("bin", IntegerType) +:
        Seq("bindist", "vx", "vy", "spd", "dir", "snr1", "snr2",
          "errx", "erry").map(n => StructField(n, DoubleType)))
    var df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toList, 1), schema)
      .withColumn("time", to_timestamp(col("ts"))).drop("ts")
    datPath.foreach { t =>
      val level = read(spark, t, argonautDat)
      if (level.columns.contains("Level"))
        df = df.join(broadcast(level.select(col("time").as("__lt"),
            col("Level").as("level"))),
          df("time") === col("__lt"), "left").drop("__lt")
    }
    df
  }

}
