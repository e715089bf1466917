package graft.io

import graft.SharedSpark
import graft.core.Meta
import org.scalatest.funsuite.AnyFunSuite

class ConfigSpec extends AnyFunSuite {

  test("read_globalatts parses ;-delimited pairs with float coercion, MOORING stays string") {
    val gatts =
      """MOORING; 1076
        |WATER_DEPTH; 1.55
        |latitude; 30.37876
        |longitude; -88.38794
        |magnetic_variation; -1.88
        |Deployment_date; 2016-08-04 15:41
        |Recovery_date; 2016-10-19 20:10
        |Conventions; CF-1.11""".stripMargin
    val m = Config.readGlobalAtts(gatts.linesIterator)
    assert(m.str("MOORING").contains("1076"))
    assert(m.dbl("WATER_DEPTH").contains(1.55))
    assert(m.dbl("latitude").contains(30.37876))
    assert(m.str("Deployment_date").contains("2016-08-04 15:41"))
    assert(m.str("Conventions").contains("CF-1.11"))
  }

  test("Seq attrs survive the string-valued sidecar round trip") {
    import graft.core.Meta
    // Sink.writeParquet stringifies attrs ("List(0, 100)"); a later clean
    // merges the sidecar back — Seq accessors must recover the elements so
    // has()-gated consumers (Clip good_ens/good_dates) don't crash
    val m = Meta(Map(
      "good_ens" -> Seq(0, 100).toString,           // "List(0, 100)"
      "good_dates" -> scala.collection.immutable.Vector("2024-01-01", "2024-02-01").toString,
      "bracket" -> "[1.5, 2.5]"))
    assert(m.dblSeq("good_ens").contains(Seq(0.0, 100.0)))
    assert(m.strSeq("good_dates").contains(Seq("2024-01-01", "2024-02-01")))
    // plain strings are NOT misparsed as sequences — including bracketed
    // scalars like "[site A, 2024]" (only Scala-collection toString shapes
    // are recovered)
    assert(m.seq("bracket").isEmpty)
    assert(Meta(Map("note" -> "a, b")).seq("note").isEmpty)
  }

  test("YAML config parses scalars, lists, and QA/QC directives") {
    val yaml =
      """basefile: 'GB0014'
        |ClockError: 0
        |initial_instrument_height: 0.15
        |C_51_min_diff: -0.3
        |Turb_max_diff: 100
        |C_51_bad_ens: [500, 600, 905, 910]
        |Turb_mask_expr: "P_1ac < 0.1"
        |wp_max: 4
        |trim_method: 'water level sl'""".stripMargin
    val m = Config.readYaml(yaml)
    assert(m.str("basefile").contains("GB0014"))
    assert(m.dbl("C_51_min_diff").contains(-0.3))
    assert(m.dblSeq("C_51_bad_ens").contains(Seq(500.0, 600.0, 905.0, 910.0)))
    assert(m.str("Turb_mask_expr").contains("P_1ac < 0.1"))
    assert(m.str("trim_method").contains("water level sl"))
  }

  test("get_metadata merge: config wins on collision, collisions reported") {
    val gatts = Meta("WATER_DEPTH" -> 1.55, "latitude" -> 30.4)
    val config = Meta("WATER_DEPTH" -> 2.0, "basefile" -> "x")
    val (merged, collisions) = Config.merge(gatts, config)
    assert(merged.dbl("WATER_DEPTH").contains(2.0))
    assert(merged.dbl("latitude").contains(30.4))
    assert(collisions == Seq("WATER_DEPTH"))
  }
}

class ReaderSinkSpec extends AnyFunSuite with SharedSpark {
  private def fixtureCsv(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toFile
    val f = new java.io.File(dir, "instrument.csv")
    val w = new java.io.PrintWriter(f)
    w.println("time,Pressure,Temperature,Turbidity")
    w.println("2024-01-01 00:00:00,10.12,21.5,3.2")
    w.println("2024-01-01 00:00:01,10.15,21.6,3.1")
    w.println("2024-01-01 00:00:02,10.13,21.4,100.5")
    w.close()
    f.getAbsolutePath
  }

  test("instrument CSV: EPIC renames, CF metadata, clock error shift") {
    val df = Readers.readInstrumentCsv(spark, fixtureCsv(), Meta.empty)
    assert(df.columns.toSet == Set("time", "P_1", "T_28", "Turb"))
    assert(df.schema("P_1").metadata.getString("standard_name") == "sea_water_pressure")
    assert(df.schema("T_28").metadata.getString("units") == "degree_C")
    val shifted = Readers.applyClockError(df, "time", Meta("ClockError" -> 2.0))
    val t0 = shifted.orderBy("time").select("time").head().getTimestamp(0)
    assert(t0.toInstant.toString == "2023-12-31T23:59:58Z")
  }

  test("sink: float32 encoding, naming conventions, sidecar attrs") {
    import spark.implicits._
    val df = Seq((1L, 10.5, 2.25)).toDF("time", "P_1", "T_28")
    val enc = Sink.encodeFloat32(df)
    assert(enc.schema("P_1").dataType.typeName == "float")
    assert(enc.schema("time").dataType.typeName == "long")
    assert(Sink.conventionName("1076a", "raw") == "1076a-raw")
    assert(Sink.conventionName("1076a", "clean") == "1076ab")
    assert(Sink.conventionName("1076a", "stats") == "1076as-a")
    val out = java.nio.file.Files.createTempDirectory("graft_out").toString + "/t"
    Sink.writeParquet(df, out, Meta("MOORING" -> "1076"))
    assert(new java.io.File(out, "_graft_attrs.json").exists())
    val back = spark.read.parquet(out)
    assert(back.count() == 1)
    assert(back.schema("P_1").dataType.typeName == "float")
  }

  test("history provenance accumulates") {
    val m1 = Sink.insertHistory(Meta.empty, "Trimmed bad ensembles.", "2024-01-01T00:00:00Z")
    val m2 = Sink.insertHistory(m1, "Applied atmospheric correction.", "2024-01-01T00:01:00Z")
    val h = m2.str("history").get
    assert(h.linesIterator.size == 2 && h.contains("Trimmed") && h.contains("atmospheric"))
  }
}

/** SURVEY §2.11: the tumbling-window plans must run unchanged under
  * Structured Streaming — prove it with a memory-sink streaming query over
  * the same window()+agg shape as the avg_cont batch query. */
class StreamingSpec extends AnyFunSuite with SharedSpark {
  test("avg_cont window agg runs as a streaming query with watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Double)]
    val df = input.toDF().toDF("t", "value")
    val agg = df
      .withWatermark("t", "1 hour")
      .groupBy(window(col("t"), "6 hours"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_v"))
      .select(col("window.start").as("bucket"), col("n"), col("sum_v"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("avg_cont_stream").start()
    def ts(h: Int) = java.sql.Timestamp.from(java.time.Instant.parse(f"2024-01-01T$h%02d:00:00Z"))
    input.addData((ts(0), 1.0), (ts(1), 2.0), (ts(7), 10.0))
    q.processAllAvailable()
    val rows = spark.sql("select * from avg_cont_stream order by bucket").collect()
    q.stop()
    assert(rows.length == 2)
    assert(rows(0).getLong(1) == 2 && rows(0).getDouble(2) == 3.0)
    assert(rows(1).getLong(1) == 1 && rows(1).getDouble(2) == 10.0)
  }
}
