package graft.io

import graft.SharedSpark
import graft.core.Meta
import org.scalatest.funsuite.AnyFunSuite

class ComplianceSpec extends AnyFunSuite with SharedSpark {
  test("compliant CF table passes") {
    val f = java.io.File.createTempFile("cftest", ".csv")
    val w = new java.io.PrintWriter(f)
    w.println("time,Pressure,Temperature")
    w.println("2024-01-01 00:00:00,10.1,21.0")
    w.println("2024-01-01 00:00:01,10.2,21.1")
    w.close()
    val df = Readers.readInstrumentCsv(spark, f.getAbsolutePath, Meta.empty)
    assert(Compliance.check(df).isEmpty)
  }

  test("IOOS-style rules: datum, coverage_content_type, valid range, global attrs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.MetadataBuilder
    // deliberately broken: vertical coordinate without a datum attr, a
    // variable whose data exceeds its declared valid_max, no
    // coverage_content_type, and a global-attr set missing `institution`
    val md = new MetadataBuilder()
      .putString("standard_name", "sea_water_pressure")
      .putString("units", "dbar")
      .putDouble("valid_min", 0.0).putDouble("valid_max", 50.0).build()
    val df = Seq(
      ("2024-01-01 00:00:00", 10.0, 1.5),
      ("2024-01-01 00:00:01", 80.0, 2.5)) // 80 > valid_max
      .toDF("time", "P_1", "bin_depth")
      .withColumn("time", col("time").cast("timestamp"))
      .withColumn("P_1", col("P_1").as("P_1", md))
    val broken = Meta(Map("Conventions" -> "CF-1.8", "title" -> "t"))
    val v = Compliance.check(df, meta = broken,
      coordCols = Seq("time", "bin_depth"))
    assert(v.exists(_.rule == "coverage-content-type"))
    assert(v.exists(r => r.rule == "valid-range" && r.detail.contains("valid_max")))
    assert(v.exists(r => r.rule == "global-attr" && r.detail.contains("institution")))
    assert(v.exists(_.rule == "vertical-datum"))
    assert(!v.exists(r => r.rule == "valid-range" && r.detail.contains("valid_min")))

    // ACDD advisory tier: missing summary/history/source report at
    // severity "recommended", never "required"
    assert(v.filter(_.rule == "acdd-recommended")
      .forall(_.severity == "recommended"))

    // fixing the dataset + attrs clears the new rules
    val md2 = new MetadataBuilder().withMetadata(md)
      .putString("coverage_content_type", "physicalMeasurement").build()
    val good = df.filter("P_1 <= 50").withColumn("P_1", col("P_1").as("P_1", md2))
    val fullMeta = Meta(Map("Conventions" -> "CF-1.8", "title" -> "t",
      "institution" -> "USGS", "NAVD88_ref" -> -1.23,
      "summary" -> "test deployment", "history" -> "generated",
      "source" -> "graft",
      "time_coverage_start" -> "2024-01-01T00:00:00Z",
      "time_coverage_end" -> "2024-01-01T00:00:01Z"))
    assert(Compliance.check(good, meta = fullMeta,
      coordCols = Seq("time", "bin_depth")).isEmpty)

    // geospatial sanity: out-of-range declared position is required-level
    val vGeo = Compliance.check(good,
      meta = fullMeta ++ Map("latitude" -> 95.0, "longitude" -> 400.0),
      coordCols = Seq("time", "bin_depth"))
    assert(vGeo.count(_.rule == "geospatial-range") == 2)
    assert(Compliance.check(good,
      meta = fullMeta ++ Map("latitude" -> 41.5, "longitude" -> -70.7),
      coordCols = Seq("time", "bin_depth")).isEmpty)
  }

  test("CF units/fill/time-units/conventions rules") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.MetadataBuilder
    // wrong canonical units for the standard_name; _FillValue INSIDE the
    // declared valid range; time units not "<unit> since <epoch>";
    // Conventions string without a CF version
    val badUnits = new MetadataBuilder()
      .putString("standard_name", "sea_water_temperature")
      .putString("units", "dbar")
      .putString("coverage_content_type", "physicalMeasurement")
      .putDouble("valid_min", -5.0).putDouble("valid_max", 45.0)
      .putDouble("_FillValue", 0.0).build()
    val tmd = new MetadataBuilder().putString("units", "epoch seconds").build()
    val df = Seq(("2024-01-01 00:00:00", 21.0), ("2024-01-01 00:00:01", 21.5))
      .toDF("time", "T_28")
      .withColumn("time", col("time").cast("timestamp").as("time", tmd))
      .withColumn("T_28", col("T_28").as("T_28", badUnits))
    val v = Compliance.check(df, meta = Meta(Map(
      "Conventions" -> "ACDD only", "title" -> "t", "institution" -> "USGS",
      "summary" -> "s", "history" -> "h", "source" -> "g")))
    assert(v.exists(r => r.rule == "units-canonical" && r.detail.contains("dbar")))
    assert(v.exists(_.rule == "fill-in-range"))
    assert(v.exists(_.rule == "time-units"))
    assert(v.exists(_.rule == "conventions-version"))
    // correcting all four clears them
    val okUnits = new MetadataBuilder().withMetadata(badUnits)
      .putString("units", "degree_C").putDouble("_FillValue", -999.0).build()
    val okT = new MetadataBuilder()
      .putString("units", "seconds since 1970-01-01T00:00:00Z")
      .putString("calendar", "standard").build()
    val good = df
      .withColumn("time", col("time").as("time", okT))
      .withColumn("T_28", col("T_28").as("T_28", okUnits))
    val v2 = Compliance.check(good, meta = Meta(Map(
      "Conventions" -> "CF-1.8", "title" -> "t", "institution" -> "USGS",
      "summary" -> "s", "history" -> "h", "source" -> "g",
      "time_coverage_start" -> "2024-01-01T00:00:00Z",
      "time_coverage_end" -> "2024-01-01T00:00:01Z")))
    assert(v2.isEmpty)

    // epoch units without a calendar: recommended warning; an unknown
    // calendar name is a required failure
    val noCal = new MetadataBuilder()
      .putString("units", "seconds since 1970-01-01T00:00:00Z").build()
    val vCal = Compliance.check(
      good.withColumn("time", col("time").as("time", noCal)))
    assert(vCal.exists(r =>
      r.rule == "time-calendar" && r.severity == "recommended"))
    val badCal = new MetadataBuilder().withMetadata(okT)
      .putString("calendar", "martian").build()
    assert(Compliance.check(
      good.withColumn("time", col("time").as("time", badCal)))
      .exists(r => r.rule == "time-calendar" && r.severity == "required"))

    // dangling `coordinates` attribute is a required failure
    val withCoords = new MetadataBuilder().withMetadata(okUnits)
      .putString("coordinates", "time depth_missing").build()
    assert(Compliance.check(
      good.withColumn("T_28", col("T_28").as("T_28", withCoords)))
      .exists(r => r.rule == "coordinates-exist" &&
        r.detail.contains("depth_missing")))
  }

  test("violations reported: non-monotone time, missing metadata") {
    import spark.implicits._
    val df = Seq(
      ("2024-01-01 00:00:01", 1.0), ("2024-01-01 00:00:01", 2.0))
      .toDF("time", "raw_sensor")
      .withColumn("time", org.apache.spark.sql.functions.col("time").cast("timestamp"))
    val v = Compliance.check(df)
    assert(v.exists(_.rule == "time-monotone"))
    assert(v.exists(_.rule == "var-units"))
    assert(v.exists(_.rule == "var-standard-name"))
  }
}
