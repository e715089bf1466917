package graft.queries

import graft.core.Meta
import graft.ops.{ProfileTrims, Qaqc, Trims}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * The config-driven QA/QC orchestrator plus profiler-shaped operators
 * (SURVEY §2.3 side-lobe family, §1.2 ragged profiles). Profile shape is
 * synthesized from lineitem: l_orderkey = cast/time, l_linenumber = bin.
 */
object ProfileQueries {
  import Tables._

  def qs: Seq[Q] = Seq(
    // call_qaqc: the attr-driven fold in reference order
    // (stglib/core/qaqc.py:12-60) — the Meta map is the query
    Q("call_qaqc",
      (s, dir) => {
        val meta = Meta(
          "value_max_diff" -> 40.0,
          "value_maxabs_diff" -> 45.0,
          "value_min" -> 2.0,
          "value_max" -> 95.0,
          "value_mask_expr" -> "(value > 90.0)",
          "value_fliers" -> 2)
        Qaqc.applyAll(events(s, dir), meta, Seq("value"),
            order = Seq("ts", "event_id"), part = Seq("user_id"))
          .select("event_id", "value")
      },
      Some("""WITH t1 AS (  -- trim_max_diff 40
             |  SELECT user_id, ts, event_id,
             |    CASE WHEN coalesce(value - lag(value) OVER w, 0.0) > 40.0
             |      THEN NULL ELSE value END AS value
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |t2 AS (  -- trim_maxabs_diff 45
             |  SELECT user_id, ts, event_id,
             |    CASE WHEN abs(coalesce(value - lag(value) OVER w, 0.0)) > 45.0
             |      THEN NULL ELSE value END AS value
             |  FROM t1 WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |t3 AS (  -- trim_min 2 / trim_max 95
             |  SELECT user_id, ts, event_id,
             |    CASE WHEN value >= 2.0 AND value <= 95.0 THEN value END AS value
             |  FROM t2),
             |t4 AS (  -- mask_expr (value > 90)
             |  SELECT user_id, ts, event_id,
             |    CASE WHEN value > 90.0 THEN NULL ELSE value END AS value
             |  FROM t3),
             |isl AS (  -- trim_fliers 2: islands of non-nulls
             |  SELECT *, sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) OVER
             |    (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
             |    AS island
             |  FROM t4),
             |runs AS (
             |  SELECT *, count(value) OVER (PARTITION BY user_id, island) AS runlen
             |  FROM isl)
             |SELECT event_id, CASE WHEN runlen > 2 THEN value END AS value FROM runs""".stripMargin)),

    // side-lobe velocity trim + trailing all-null bin drop
    // (stglib/aqd/aqdutils.py:435-658)
    Q("sidelobe_trim",
      (s, dir) => {
        val df = lineitem(s, dir)
          .withColumn("bindist", lit(0.25) + (col("l_linenumber") - 1) * 0.5)
          .withColumn("p", lit(1.2) + (col("l_orderkey") % 40).cast("double") / 20.0)
          .withColumn("vel", col("l_extendedprice") / 1000.0)
        val trimmed = ProfileTrims.trimSidelobes(df, Seq("vel"), "bindist", "p",
          beamAngleDeg = 20.0, binSize = 0.5, surfBins = 1)
        ProfileTrims.dropTrailingNullBins(trimmed, "vel", "bindist")
          .select("l_orderkey", "l_linenumber", "vel")
      },
      Some(s"""WITH b AS (
             |  SELECT l_orderkey, l_linenumber,
             |    0.25 + (l_linenumber - 1) * 0.5 AS bindist,
             |    1.2 + CAST(l_orderkey % 40 AS DOUBLE) / 20.0 AS p,
             |    l_extendedprice / 1000.0 AS vel
             |  FROM lineitem),
             |t AS (
             |  SELECT *, CASE WHEN bindist < p * cos(radians(20.0)) - 0.5 * 1
             |    THEN vel END AS vel_t FROM b),
             |bins AS (
             |  SELECT *, max(CASE WHEN vel_t IS NOT NULL THEN 1 ELSE 0 END)
             |    OVER (PARTITION BY bindist) AS valid_bin FROM t),
             |cut AS (
             |  SELECT *, min(CASE WHEN valid_bin = 0 THEN bindist END) OVER () AS first_bad,
             |    min(bindist) OVER () AS min_bin
             |  FROM bins)
             |SELECT l_orderkey, l_linenumber, vel_t AS vel FROM cut
             |WHERE first_bad IS NULL OR first_bad = min_bin OR bindist < first_bad""".stripMargin)),

    // AGC / correlation gating (stglib/aqd/aqdutils.py:1631-1716)
    Q("agc_gate",
      (s, dir) => {
        val df = events(s, dir)
          .withColumn("u", col("value") - 50.0)
          .withColumn("agc", (col("event_id") % 120).cast("double"))
        ProfileTrims.gateByQuality(df, Seq("u"), "agc", 30.0)
          .select("event_id", "u", "agc")
      },
      Some("""SELECT event_id,
             |  CASE WHEN CAST(event_id % 120 AS DOUBLE) >= 30.0
             |    THEN value - 50.0 END AS u,
             |  CAST(event_id % 120 AS DOUBLE) AS agc
             |FROM events""".stripMargin)),

    // companion-std trims (stglib/core/qaqc.py:636-659, 339-356)
    Q("trim_std_ratio",
      (s, dir) => {
        val df = events(s, dir)
          .withColumn("value_std", (col("event_id") % 17).cast("double") / 4.0)
        Trims.trimMaxStd(
          Trims.trimStdRatio(df, "value", 0.1, "value_std"),
          "value", 3.5, "value_std")
          .select("event_id", "value", "value_std")
      },
      // value = 0: numpy's std/0 is +inf for std > 0 (ratio test TRIMS,
      // reference-faithful) and NaN for 0/0 (comparison False, keeps) —
      // spelled out because DuckDB's x/0 is NULL, not inf
      Some("""WITH b AS (SELECT event_id, value,
             |    CAST(event_id % 17 AS DOUBLE) / 4.0 AS value_std FROM events),
             |t1 AS (SELECT event_id, value_std,
             |  CASE WHEN value = 0.0 THEN (CASE WHEN value_std > 0 THEN NULL ELSE value END)
             |       WHEN value_std / value > 0.1 THEN NULL ELSE value END AS value FROM b)
             |SELECT event_id,
             |  CASE WHEN value_std > 3.5 THEN NULL ELSE value END AS value, value_std
             |FROM t1""".stripMargin)),

    // 2-D abs-diff trim along both dims of a (time × bin) grid
    // (stglib/core/qaqc.py:458-493)
    Q("trim_maxabs_diff_2d",
      // 2-D (time × bin) grid with UNIQUE coordinates built from the global
      // event order — (l_orderkey, l_linenumber) is not unique, and tied
      // window orderings are engine-nondeterministic
      (s, dir) => {
        // grid positions via one ordered sweep (no single-partition
        // window); int cast keeps the row_number()-1 schema the oracle sees
        val grid = graft.ops.Index.withGlobalPosition(
            events(s, dir), Seq("event_id"), "__pos")
          .withColumn("rn", col("__pos").cast("int")).drop("__pos")
          .withColumn("t", expr("rn div 16"))
          .withColumn("bin", col("rn") % 16)
        Trims.trimMaxAbsDiff2d(grid, "value",
            dim1Order = "bin", dim1Part = Seq("t"), thr1 = 40.0,
            dim2Order = "t", dim2Part = Seq("bin"), thr2 = 50.0)
          .withColumn("bin", col("bin").cast("long"))
          .select("t", "bin", "value")
      },
      Some("""WITH grid AS (
             |  SELECT (row_number() OVER (ORDER BY event_id) - 1) // 16 AS t,
             |    (row_number() OVER (ORDER BY event_id) - 1) % 16 AS bin, value
             |  FROM events),
             |d1 AS (
             |  SELECT t, bin,
             |    CASE WHEN abs(value - lag(value) OVER
             |      (PARTITION BY t ORDER BY bin)) >= 40.0
             |      THEN NULL ELSE value END AS value
             |  FROM grid)
             |SELECT t, bin,
             |  CASE WHEN abs(value - lag(value) OVER
             |    (PARTITION BY bin ORDER BY t)) >= 50.0
             |    THEN NULL ELSE value END AS value
             |FROM d1""".stripMargin)),

    // trim_mask + trim_by_any (stglib/core/qaqc.py:496-522, 315-336)
    Q("trim_mask_byany",
      (s, dir) => {
        val df = events(s, dir)
          .withColumn("turb", when(col("value") < 80.0, col("value") * 2.0))
          .withColumn("fdom", when(col("value") > 5.0, col("value") / 2.0))
        Trims.trimByVar(Trims.trimMask(df, "value", Seq("turb")), "fdom", "value")
          .select("event_id", "value", "turb", "fdom")
      },
      Some("""WITH b AS (SELECT event_id, value,
             |    CASE WHEN value < 80.0 THEN value * 2.0 END AS turb,
             |    CASE WHEN value > 5.0 THEN value / 2.0 END AS fdom
             |  FROM events),
             |t1 AS (SELECT event_id,
             |    CASE WHEN turb IS NOT NULL THEN value END AS value, turb, fdom
             |  FROM b)
             |SELECT event_id, value, turb,
             |  CASE WHEN value IS NOT NULL THEN fdom END AS fdom
             |FROM t1""".stripMargin)),

    // profile_clip_ds: keep casts whose id is in the good list (semi-join;
    // stglib/rsk/cdf2nc.py:396-438)
    Q("profile_semi_join",
      (s, dir) => {
        val good = orders(s, dir).filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"))
        val li = lineitem(s, dir)
        li.join(good, li("l_orderkey") === good("o_orderkey"), "left_semi")
          .select("l_orderkey", "l_linenumber", "l_quantity")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
             |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
             |                     WHERE o_orderstatus = 'F')""".stripMargin)),

    // CF contiguous ragged array encoding: row_size + row_start per profile
    // (stglib/rsk/csv2cdf.py:137-215)
    Q("ragged_profile",
      (s, dir) => {
        val sizes = lineitem(s, dir).groupBy("l_orderkey")
          .agg(count(lit(1)).as("row_size"))
        // scale-safe prefix sum (one ordered sweep) — a global-ORDER BY
        // window would serialize all profiles through one task
        graft.ops.Index.withRunningTotal(sizes, Seq("l_orderkey"),
            "row_size", "__cum")
          .withColumn("row_start", col("__cum") - col("row_size"))
          .select("l_orderkey", "row_size", "row_start")
      },
      Some("""SELECT l_orderkey, row_size,
             |  CAST(sum(row_size) OVER (ORDER BY l_orderkey
             |    ROWS UNBOUNDED PRECEDING) - row_size AS BIGINT) AS row_start
             |FROM (SELECT l_orderkey, count(*) AS row_size FROM lineitem
             |      GROUP BY l_orderkey)""".stripMargin)),

    // burst-wide trim_min: null the whole burst when any sample is below min
    // (stglib/rsk/cdf2nc.py:242-262)
    Q("trim_min_burstwide",
      (s, dir) => {
        val df = events(s, dir)
          .withColumn("day", expr("ts div 86400000000000"))
        Trims.trimMinBurstWide(df, "value", 0.5, Seq("user_id", "day"))
          .select("event_id", "value")
      },
      Some("""SELECT event_id, CASE WHEN bad = 0 THEN value END AS value FROM (
             |  SELECT event_id, value,
             |    max(CASE WHEN value < 0.5 THEN 1 ELSE 0 END) OVER
             |      (PARTITION BY user_id, epoch_ns(ts) // 86400000000000) AS bad
             |  FROM events)""".stripMargin)),

    // trim provenance counts (the reference counts affected values for each
    // trim note, e.g. stglib/core/qaqc.py:66-69)
    Q("trim_counts",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        events(s, dir)
          .withColumn("d", coalesce(col("value") - lag("value", 1).over(w), lit(0.0)))
          .agg(
            sum(when(col("value") < 2.0, 1).otherwise(0)).as("n_below_min"),
            sum(when(col("value") > 95.0, 1).otherwise(0)).as("n_above_max"),
            sum(when(col("d") > 40.0, 1).otherwise(0)).as("n_spikes"),
            count(lit(1)).as("n_total"))
      },
      Some("""SELECT
             |  CAST(sum(CASE WHEN value < 2.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_below_min,
             |  CAST(sum(CASE WHEN value > 95.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_above_max,
             |  CAST(sum(CASE WHEN d > 40.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_spikes,
             |  count(*) AS n_total
             |FROM (
             |  SELECT value, coalesce(value - lag(value) OVER
             |    (PARTITION BY user_id ORDER BY ts, event_id), 0.0) AS d
             |  FROM events)""".stripMargin)),

    // trim_avg_vel_bins ("water level" method): post-average top-bin trim —
    // null velocity where bindist >= P - bin_size*avg_bins
    // (stglib/sig/cdf2nc.py:1646-1727)
    Q("trim_avg_bins",
      (s, dir) => {
        val df = lineitem(s, dir)
          .withColumn("bindist", lit(0.25) + (col("l_linenumber") - 1) * 0.5)
          .withColumn("p_ac", lit(1.2) + (col("l_orderkey") % 40).cast("double") / 20.0)
          .withColumn("vel", col("l_extendedprice") / 1000.0)
        df.select(col("l_orderkey"), col("l_linenumber"),
          when(col("bindist") < col("p_ac") - lit(0.5) * 2, col("vel")).as("vel"))
      },
      Some("""SELECT l_orderkey, l_linenumber,
             |  CASE WHEN CAST(0.25 AS DOUBLE) + (l_linenumber - 1) * CAST(0.5 AS DOUBLE)
             |            < (1.2 + CAST(l_orderkey % 40 AS DOUBLE) / 20.0) - 0.5 * 2
             |       THEN l_extendedprice / 1000.0 END AS vel
             |FROM lineitem""".stripMargin)),

    // puv_qaqc: null direction stats where the tail-based Hrmsu is null
    // (stglib/core/waves.py:1831-1836)
    Q("puv_qaqc",
      (s, dir) => {
        val df = events(s, dir)
          .withColumn("hrmsu_tail", when(col("value") <= 90.0, col("value") / 10.0))
          .withColumn("phir", col("value") - 50.0)
          .withColumn("azr", (col("event_id") % 360).cast("double"))
        df.select(col("event_id"), col("hrmsu_tail"),
          when(col("hrmsu_tail").isNotNull, col("phir")).as("phir"),
          when(col("hrmsu_tail").isNotNull, col("azr")).as("azr"))
      },
      Some("""SELECT event_id,
             |  CASE WHEN value <= 90.0 THEN value / 10.0 END AS hrmsu_tail,
             |  CASE WHEN value <= 90.0 THEN value - 50.0 END AS phir,
             |  CASE WHEN value <= 90.0 THEN CAST(event_id % 360 AS DOUBLE) END AS azr
             |FROM events""".stripMargin)),

    // trim_alt ("altitude" method): null data vars where the altimeter range
    // is outside [Deadzone_m, Range_m] (stglib/eofe.py:700-739)
    Q("trim_alt",
      (s, dir) => {
        val df = events(s, dir)
          .withColumn("alt", col("value") / 10.0)
          .withColumn("counts", (col("event_id") % 250).cast("double"))
        val ok = col("alt") >= 0.5 && col("alt") <= 9.0
        df.select(col("event_id"),
          when(ok, col("alt")).as("alt"),
          when(ok, col("counts")).as("counts"))
      },
      Some("""SELECT event_id,
             |  CASE WHEN value/10.0 >= 0.5 AND value/10.0 <= 9.0
             |       THEN value/10.0 END AS alt,
             |  CASE WHEN value/10.0 >= 0.5 AND value/10.0 <= 9.0
             |       THEN CAST(event_id % 250 AS DOUBLE) END AS counts
             |FROM events""".stripMargin)),

    // add_brange: per-profile bindist of the peak echo amplitude beyond the
    // blanking distance (idxmax over bindist, stglib/sig/cdf2nc.py:1728-1806)
    Q("add_brange",
      (s, dir) => {
        val df = lineitem(s, dir)
          .withColumn("bindist", lit(0.25) + (col("l_linenumber") - 1) * 0.5)
          .withColumn("amp", col("l_extendedprice") / 1000.0)
          .filter(col("bindist") > 0.3)
        // argmax via max(struct(amp, bindist)): map-side combinable, no
        // window shuffle; ties break to the LARGER bindist deterministically
        df.groupBy("l_orderkey")
          .agg(max(struct(col("amp"), col("bindist"))).getField("bindist")
            .as("brange"))
      },
      Some("""SELECT l_orderkey,
             |  (max(struct_pack(amp := amp, bindist := bindist))).bindist AS brange
             |FROM (
             |  SELECT l_orderkey,
             |    CAST(0.25 AS DOUBLE) + (l_linenumber - 1) * CAST(0.5 AS DOUBLE) AS bindist,
             |    l_extendedprice / 1000.0 AS amp
             |  FROM lineitem)
             |WHERE bindist > 0.3
             |GROUP BY l_orderkey""".stripMargin)),

    // clip_ds_prf: vertical bin range clip (stglib/core/utils.py:1812-1854)
    Q("clip_bindist",
      (s, dir) => graft.ops.Clip.clipBindist(
          lineitem(s, dir)
            .withColumn("bindist", lit(0.25) + (col("l_linenumber") - 1) * 0.5),
          "bindist", 0.5, 2.5)
        .select("l_orderkey", "l_linenumber", "bindist"),
      Some("""SELECT l_orderkey, l_linenumber,
             |  CAST(0.25 AS DOUBLE) + (l_linenumber - 1) * CAST(0.5 AS DOUBLE) AS bindist
             |FROM lineitem
             |WHERE CAST(0.25 AS DOUBLE) + (l_linenumber - 1) * CAST(0.5 AS DOUBLE)
             |  BETWEEN 0.5 AND 2.5""".stripMargin))
  )
}
