package graft.queries

import graft.functions.{Physics => P}
import graft.ops.Burst
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Spectral-adjacent aggregations that ARE SQL-expressible (SURVEY §2.5):
 * mean wave direction over a (freq, dir) spectrum, burst nesting round-trip,
 * bin geometry, and block averaging with duration cut.
 */
object SpectralAggQueries {
  import Tables._

  def qs: Seq[Q] = Seq(
    // quantile threshold scan (find_ast_qual_min,
    // stglib/sig/cdf2nc.py:1808-1831): exact interpolated percentile per
    // group — Spark `percentile` and DuckDB `quantile_cont` share the
    // sort + linear-interpolation definition
    Q("quantile_scan",
      (s, dir) => events(s, dir)
        .groupBy("event_type")
        .agg(round(expr("percentile(value, 0.95)"), 8).as("q95"),
             round(expr("percentile(value, 0.5)"), 8).as("q50"),
             count(lit(1)).as("n")),
      Some("""SELECT event_type, round(quantile_cont(value, 0.95), 8) AS q95,
             |  round(quantile_cont(value, 0.5), 8) AS q50, count(*) AS n
             |FROM events GROUP BY event_type""".stripMargin)),

    // atmos_correct_profile (stglib/rsk/cdf2nc.py:181-209): met sampled at
    // each profile's start time — per-order correction from a daily met
    // series (one row per day, data-sized: plain equi-join, AQE decides)
    Q("atmos_profile",
      (s, dir) => {
        val met = orders(s, dir)
          .groupBy(expr("cast(o_orderdate as date)").as("day"))
          .agg(Exact.avg(col("o_totalprice") / 10000.0).as("atm"))
        val li = lineitem(s, dir).join(
          orders(s, dir).select(col("o_orderkey"), expr("cast(o_orderdate as date)").as("day")),
          col("l_orderkey") === col("o_orderkey"))
        li.join(met, Seq("day"), "left")
          .select(col("l_orderkey"), col("l_linenumber"),
            (col("l_extendedprice") / 100.0 - col("atm")).as("p_ac"))
      },
      Some(s"""WITH met AS (
             |  SELECT CAST(o_orderdate AS DATE) AS day,
             |    ${Exact.avgSql("o_totalprice / 10000.0")} AS atm
             |  FROM orders GROUP BY 1)
             |SELECT l_orderkey, l_linenumber,
             |  l_extendedprice / 100.0 - m.atm AS p_ac
             |FROM lineitem l
             |JOIN orders o ON l.l_orderkey = o.o_orderkey
             |LEFT JOIN met m ON CAST(o.o_orderdate AS DATE) = m.day""".stripMargin)),

    // make_mwd (stglib/core/waves.py:912-933): double trapezoid integral of
    // S·sin/cos over (freq, dir) with quadrant correction. Synthetic dspec
    // rows from events: burst × 8 freqs × 12 dirs.
    Q("mean_wave_dir",
      (s, dir) => {
        // the complete 96-cell bursts in event_id order: one ordered sweep
        // (no single-partition window)
        val rows = Burst.fromContinuous(events(s, dir), Seq("event_id"), Nil, 96,
            "burst", "cell")
          .withColumn("fi", expr("cell div 12"))
          .withColumn("di", col("cell") % 12)
          .withColumn("freq", lit(0.05) + col("fi") * 0.05)
          .withColumn("dirdeg", col("di") * 30.0)
          .withColumn("sval", col("value") + lit(1.0))
        // trapezoid over dirs within (burst, freq), then over freqs; exact
        // df/ddir spacing so the trapezoid is a weighted sum: interior
        // weight 1, edges 1/2
        val wDir = when(col("di") === 0 || col("di") === 11, 0.5).otherwise(1.0)
        val wFreq = when(col("fi") === 0 || col("fi") === 7, 0.5).otherwise(1.0)
        val weight = wDir * wFreq * lit(30.0 * 0.05) // ddir·df
        val agg = rows.groupBy("burst").agg(
          sum(col("sval") * sin(radians(col("dirdeg"))) * weight).as("dnum"),
          sum(col("sval") * cos(radians(col("dirdeg"))) * weight).as("ddnom"))
        agg.select(col("burst"),
          round(
            when(col("dnum") > 0 && col("ddnom") < 0,
              lit(180.0) - degrees(atan(abs(col("dnum") / col("ddnom")))))
            .when(col("dnum") < 0 && col("ddnom") < 0,
              lit(180.0) + degrees(atan(abs(col("dnum") / col("ddnom")))))
            .when(col("dnum") < 0 && col("ddnom") > 0,
              lit(360.0) - degrees(atan(abs(col("dnum") / col("ddnom")))))
            .otherwise(degrees(atan(abs(col("dnum") / col("ddnom"))))), 6)
          .as("dm"))
      },
      Some("""WITH rows_ AS (
             |  SELECT (row_number() OVER (ORDER BY event_id) - 1) AS rn, value
             |  FROM events),
             |g AS (
             |  SELECT rn // 96 AS burst, (rn % 96) // 12 AS fi, rn % 12 AS di,
             |    value + 1.0 AS sval,
             |    count(*) OVER (PARTITION BY rn // 96) AS nb
             |  FROM rows_),
             |w AS (
             |  SELECT burst, fi, di, sval,
             |    (CASE WHEN di IN (0, 11) THEN 0.5 ELSE 1.0 END) *
             |    (CASE WHEN fi IN (0, 7) THEN 0.5 ELSE 1.0 END) * (30.0 * 0.05) AS wt,
             |    di * 30.0 AS dirdeg
             |  FROM g WHERE nb = 96),
             |agg AS (
             |  SELECT burst,
             |    sum(sval * sin(radians(dirdeg)) * wt) AS dnum,
             |    sum(sval * cos(radians(dirdeg)) * wt) AS ddnom
             |  FROM w GROUP BY burst)
             |SELECT burst, round(
             |  CASE WHEN dnum > 0 AND ddnom < 0 THEN 180.0 - degrees(atan(abs(dnum / ddnom)))
             |       WHEN dnum < 0 AND ddnom < 0 THEN 180.0 + degrees(atan(abs(dnum / ddnom)))
             |       WHEN dnum < 0 AND ddnom > 0 THEN 360.0 - degrees(atan(abs(dnum / ddnom)))
             |       ELSE degrees(atan(abs(dnum / ddnom))) END, 6) AS dm
             |FROM agg""".stripMargin)),

    // long -> nested -> long burst round trip (SURVEY §1.5): identity map,
    // verified relationally against the source rows
    Q("burst_roundtrip",
      (s, dir) => {
        val long0 = Burst.fromContinuous(events(s, dir),
          order = Seq("ts", "event_id"), part = Seq("user_id"),
          nsamps = 16, burstCol = "burst", sampleCol = "sample")
          .withColumn("bkey", col("user_id") * 10000 + col("burst"))
        val nested = Burst.toNested(long0, "bkey", "sample", Seq("value"))
        Burst.toLong(nested, "bkey", "value_arr", "value", "sample")
          .withColumn("sample", col("sample").cast("long"))
      },
      Some("""WITH ids AS (
             |  SELECT user_id, value,
             |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS rn
             |  FROM events),
             |b AS (
             |  SELECT user_id * 10000 + rn // 16 AS bkey, rn % 16 AS sample, value,
             |    count(*) OVER (PARTITION BY user_id, rn // 16) AS n
             |  FROM ids)
             |SELECT bkey, sample, value FROM b WHERE n = 16""".stripMargin)),

    // bin geometry (create_bindist/calc_bin_height, stglib/eofe.py:304-345,
    // stglib/aqd/aqdutils.py:1041-1058): exact arithmetic
    Q("bin_geometry",
      (s, dir) => {
        val df = part(s, dir)
          .withColumn("bin", col("p_size") % 24)
        df.select(col("p_partkey"), col("bin"),
          P.binDist(col("bin"), 0.5).as("bindist"),
          P.binHeight(P.binDist(col("bin"), 0.5), 0.15, orientationUp = true).as("bin_height_up"),
          P.binHeight(P.binDist(col("bin"), 0.5), 10.0, orientationUp = false).as("bin_height_down"))
      },
      Some("""SELECT p_partkey, p_size % 24 AS bin,
             |  CAST(0.25 AS DOUBLE) + (p_size % 24) * CAST(0.5 AS DOUBLE) AS bindist,
             |  CAST(0.15 AS DOUBLE) + (CAST(0.25 AS DOUBLE) + (p_size % 24) * CAST(0.5 AS DOUBLE)) AS bin_height_up,
             |  CAST(10.0 AS DOUBLE) - (CAST(0.25 AS DOUBLE) + (p_size % 24) * CAST(0.5 AS DOUBLE)) AS bin_height_down
             |FROM part""".stripMargin)),

    // create_z / create_nominal_instrument_depth: vertical coordinate from
    // datum attrs ± bindist (stglib/core/utils.py:1165-1299); NAVD88 datum,
    // both orientations, plus zsen from the pressure sensor height
    Q("create_z",
      (s, dir) => {
        val hagd = 1.75; val iih = 0.5; val psh = 0.35; val wd = 10.5
        val df = part(s, dir).withColumn("bin", col("p_size") % 24)
        df.select(col("p_partkey"), col("bin"),
          P.binDist(col("bin"), 0.5).as("bindist"),
          (lit(hagd) + iih - P.binDist(col("bin"), 0.5)).as("z_down"),
          (lit(hagd) + iih + P.binDist(col("bin"), 0.5)).as("z_up"),
          lit(hagd + psh).as("zsen"),
          lit(wd - iih).as("nominal_instrument_depth"))
      },
      Some("""SELECT p_partkey, p_size % 24 AS bin,
             |  CAST(0.25 AS DOUBLE) + (p_size % 24) * CAST(0.5 AS DOUBLE) AS bindist,
             |  1.75 + 0.5 - (CAST(0.25 AS DOUBLE) + (p_size % 24) * CAST(0.5 AS DOUBLE)) AS z_down,
             |  1.75 + 0.5 + (CAST(0.25 AS DOUBLE) + (p_size % 24) * CAST(0.5 AS DOUBLE)) AS z_up,
             |  CAST(2.1 AS DOUBLE) AS zsen,
             |  CAST(10.0 AS DOUBLE) AS nominal_instrument_depth
             |FROM part""".stripMargin)),

    // unit scaling: IQ mm/s → m/s and ABS counts scaling
    // (stglib/iq.py:497-508, stglib/abss.py:274-349)
    Q("unit_scale",
      (s, dir) => events(s, dir).select(col("event_id"),
        (col("value") / 1000).as("vel_ms"),
        (col("value") * 0.25 + 2.5).as("abs_scaled")),
      Some("""SELECT event_id, value / 1000 AS vel_ms,
             |  value * 0.25 + 2.5 AS abs_scaled FROM events""".stripMargin)),

    // wave_start_time clip + wave_duration sample cut
    // (stglib/rsk/nc2waves.py:20-42): drop rows before the configured start,
    // then keep only the first nsamps samples of each burst
    Q("wave_start_time",
      (s, dir) => {
        val startNs = 1704153600000000000L // 2024-01-02T00:00:00Z
        val df = events(s, dir).filter(col("ts") >= startNs)
          .withColumn("rn", row_number().over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")) - 1)
          .withColumn("burst", (col("rn") / 16).cast("long"))
          .withColumn("sample", (col("rn") % 16).cast("long"))
        df.filter(col("sample") < 10).select("event_id", "burst", "sample")
      },
      Some("""SELECT event_id, rn // 16 AS burst, rn % 16 AS sample FROM (
             |  SELECT event_id, row_number() OVER
             |    (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS rn
             |  FROM events WHERE epoch_ns(ts) >= 1704153600000000000)
             |WHERE rn % 16 < 10""".stripMargin)),

    // avg_cont with average_duration: mean of only the first n samples of
    // each block (stglib/mar.py:259-332)
    Q("avg_cont_duration",
      (s, dir) => {
        val df = events(s, dir)
          .withColumn("bucket", expr("ts div 21600000000000"))
          .withColumn("sample", row_number().over(
            Window.partitionBy("user_id", "bucket").orderBy("ts", "event_id")) - 1)
        df.groupBy("user_id", "bucket")
          .agg(Exact.avg(when(col("sample") < 3, col("value"))).as("value_mean"),
               count(when(col("sample") < 3, col("value"))).as("n_used"),
               count(lit(1)).as("n_total"))
      },
      Some(s"""WITH b AS (
             |  SELECT user_id, epoch_us(ts) // 21600000000 AS bucket, value,
             |    row_number() OVER (PARTITION BY user_id, epoch_us(ts) // 21600000000
             |                       ORDER BY ts, event_id) - 1 AS sample
             |  FROM events)
             |SELECT user_id, bucket,
             |  ${Exact.avgSql("CASE WHEN sample < 3 THEN value END")} AS value_mean,
             |  count(CASE WHEN sample < 3 THEN value END) AS n_used,
             |  count(*) AS n_total
             |FROM b GROUP BY 1, 2""".stripMargin))
  )
}
