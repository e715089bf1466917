package graft.queries

import graft.ops.Align
import org.apache.spark.sql.functions._

/**
 * Time-alignment joins (SURVEY §2.4) — stglib's four join patterns
 * re-expressed over the synthetic events table. All timestamps are compared
 * as BIGINT microseconds on both engines (see Relational's ts convention).
 *
 * Scale notes: the met equi-join is a plain join that AQE broadcasts when
 * the hourly series fits. The as-of patterns run through `Align`'s sorted
 * sweep — one range exchange of both sides, no join and no per-left-row
 * rank; the oracles state the same selection as a bounded range join +
 * `row_number`.
 */
object Alignment {
  import Tables._

  private val HOUR_US = 3600000000L

  def qs: Seq[Q] = Seq(
    // atmos_correct: P_1ac = P_1 - atmpres - offset, met series equi-joined
    // on the shared time base (stglib/core/utils.py:1386-1414)
    Q("join_atmos",
      (s, dir) => {
        val ev = events(s, dir)
        val met = ev.filter(col("event_type") === "view")
          .groupBy(expr("ts div 3600000000000").as("hour"))
          .agg(Exact.avg(col("value")).as("atm"))
        val main = ev.filter(col("event_type") === "click")
          .withColumn("hour", expr("ts div 3600000000000"))
        // the met series is one row per hour (data-sized in deployment
        // length) — plain equi-join, AQE broadcasts it when it fits
        main.join(met, Seq("hour"), "left")
          .select(col("event_id"),
            (col("value") - col("atm") - lit(0.2)).as("p_ac"))
      },
      Some(s"""WITH met AS (
             |  SELECT epoch_us(ts) // $HOUR_US AS hour,
             |         ${Exact.avgSql("value")} AS atm
             |  FROM events WHERE event_type = 'view' GROUP BY 1)
             |SELECT e.event_id, e.value - m.atm - 0.2 AS p_ac
             |FROM events e LEFT JOIN met m ON epoch_us(e.ts) // $HOUR_US = m.hour
             |WHERE e.event_type = 'click'""".stripMargin)),

    // as-of nearest-within-tolerance (reindex_like(method="nearest",
    // tolerance=...), stglib/aqd/aqdutils.py:93-118)
    Q("join_asof_nearest",
      (s, dir) => {
        val ev = events(s, dir)
        val a = ev.filter(col("event_type") === "purchase")
          .selectExpr("event_id", "ts div 1000 as a_us")
        val b = ev.filter(col("event_type") === "error")
          .selectExpr("event_id as b_id", "ts div 1000 as b_us", "value as b_value")
        Align.asofNearest(a, b, "a_us", "b_us", HOUR_US)
          .select("event_id", "b_id", "b_value")
      },
      Some(s"""WITH a AS (SELECT event_id, epoch_us(ts) AS a_us FROM events
             |           WHERE event_type = 'purchase'),
             |b AS (SELECT event_id AS b_id, epoch_us(ts) AS b_us, value AS b_value
             |      FROM events WHERE event_type = 'error')
             |SELECT event_id, b_id, b_value FROM (
             |  SELECT a.event_id, b.b_id, b.b_value,
             |    row_number() OVER (PARTITION BY a.event_id
             |      ORDER BY abs(a.a_us - b.b_us), b.b_us, b.b_id) AS rn
             |  FROM a LEFT JOIN b
             |    ON b.b_us BETWEEN a.a_us - $HOUR_US AND a.a_us + $HOUR_US)
             |WHERE rn = 1""".stripMargin)),

    // as-of backward (most recent aux record at-or-before t within tolerance)
    // — the brange/boundary join pattern (stglib/aqd/aqdutils.py:550-560)
    Q("join_asof_backward",
      (s, dir) => {
        val ev = events(s, dir)
        val a = ev.filter(col("event_type") === "signup")
          .selectExpr("event_id", "ts div 1000 as a_us")
        val b = ev.filter(col("event_type") === "view")
          .selectExpr("event_id as b_id", "ts div 1000 as b_us", "value as b_value")
        Align.asofBackward(a, b, "a_us", "b_us", 2 * HOUR_US)
          .select("event_id", "b_id", "b_value")
      },
      Some(s"""WITH a AS (SELECT event_id, epoch_us(ts) AS a_us FROM events
             |           WHERE event_type = 'signup'),
             |b AS (SELECT event_id AS b_id, epoch_us(ts) AS b_us, value AS b_value
             |      FROM events WHERE event_type = 'view')
             |SELECT event_id, b_id, b_value FROM (
             |  SELECT a.event_id, b.b_id, b.b_value,
             |    row_number() OVER (PARTITION BY a.event_id
             |      ORDER BY b.b_us DESC, b.b_id DESC) AS rn
             |  FROM a LEFT JOIN b
             |    ON b.b_us <= a.a_us AND b.b_us >= a.a_us - ${2 * HOUR_US})
             |WHERE rn = 1""".stripMargin)),

    // linear time interpolation onto left timestamps — reindex/interp with
    // method="linear" (xarray interp semantics; null outside the bracket)
    Q("interp_linear",
      (s, dir) => {
        val ev = events(s, dir)
        val a = ev.filter(col("event_type") === "purchase")
          .selectExpr("event_id", "ts div 1000 as a_us")
        val b = ev.filter(col("event_type") === "error")
          .selectExpr("ts div 1000 as b_us", "value as b_value")
        Align.interpLinear(a, b, "a_us", "b_us", "b_value", HOUR_US, "v_interp")
          .select(col("event_id"), round(col("v_interp"), 8).as("v_interp"))
      },
      Some(s"""WITH a AS (SELECT event_id, epoch_us(ts) AS a_us FROM events
             |           WHERE event_type = 'purchase'),
             |b AS (SELECT epoch_us(ts) AS b_us, value AS b_value
             |      FROM events WHERE event_type = 'error'),
             |lo AS (SELECT event_id, a_us, t0, y0 FROM (
             |  SELECT a.event_id, a.a_us, b.b_us AS t0, b.b_value AS y0,
             |    row_number() OVER (PARTITION BY a.event_id
             |      ORDER BY b.b_us DESC, b.b_value DESC) AS rn
             |  FROM a LEFT JOIN b
             |    ON b.b_us <= a.a_us AND b.b_us >= a.a_us - $HOUR_US)
             |  WHERE rn = 1),
             |hi AS (SELECT event_id, a_us, t0, y0, t1, y1 FROM (
             |  SELECT lo.event_id, lo.a_us, lo.t0, lo.y0,
             |    b.b_us AS t1, b.b_value AS y1,
             |    row_number() OVER (PARTITION BY lo.event_id
             |      ORDER BY b.b_us, b.b_value) AS rn
             |  FROM lo LEFT JOIN b
             |    ON b.b_us >= lo.a_us AND b.b_us <= lo.a_us + $HOUR_US)
             |  WHERE rn = 1)
             |SELECT event_id, round(CASE WHEN t1 = t0 THEN y0
             |  ELSE y0 + (y1 - y0) * (CAST(a_us - t0 AS DOUBLE)
             |                         / CAST(t1 - t0 AS DOUBLE)) END, 8)
             |  AS v_interp
             |FROM hi""".stripMargin)),

    // fill_time_gaps: perfect calendar + nearest-within-tolerance reindex
    // (stglib/sig/cdf2nc.py:1553-1594)
    Q("fill_time_gaps",
      (s, dir) => {
        val ev = events(s, dir)
        val b = ev.filter(col("user_id") === 42)
          .selectExpr("event_id as b_id", "ts div 1000 as b_us", "value as b_value")
        val startUs = 1704067200000000L // 2024-01-01T00:00:00Z
        val endUs = 1706659200000000L   // 2024-01-31T00:00:00Z
        val grid = Align.calendarGrid(s, startUs, endUs, HOUR_US, "grid_us")
        Align.asofNearest(grid, b, "grid_us", "b_us", 30 * 60 * 1000000L)
          .select("grid_us", "b_value")
      },
      Some("""WITH grid AS (
             |  SELECT range AS grid_us
             |  FROM range(1704067200000000, 1706659200000000, 3600000000)),
             |b AS (SELECT event_id AS b_id, epoch_us(ts) AS b_us, value AS b_value
             |      FROM events WHERE user_id = 42)
             |SELECT grid_us, b_value FROM (
             |  SELECT grid.grid_us, b.b_id, b.b_value,
             |    row_number() OVER (PARTITION BY grid.grid_us
             |      ORDER BY abs(grid.grid_us - b.b_us), b.b_us, b.b_id) AS rn
             |  FROM grid LEFT JOIN b
             |    ON b.b_us BETWEEN grid.grid_us - 1800000000 AND grid.grid_us + 1800000000)
             |WHERE rn = 1""".stripMargin)),

    // xr.merge / multi-file concat → unionByName (stglib/abss.py:147-255)
    Q("merge_union",
      (s, dir) => {
        val ev = events(s, dir)
        val p1 = ev.filter(col("event_type") === "click").select("event_id", "value")
        val p2 = ev.filter(col("event_type") === "error")
          .select(col("event_id"), (col("value") + lit(1000.0)).as("value"))
        p1.unionByName(p2)
      },
      Some("""SELECT event_id, value FROM events WHERE event_type = 'click'
             |UNION ALL
             |SELECT event_id, value + 1000.0 AS value FROM events
             |WHERE event_type = 'error'""".stripMargin)),

    // data-dependent session windows per user (12 h inactivity gap) via
    // Spark's native session_window — the same plan streams with a
    // watermark (SessionizeSpec proves batch parity). Oracle: classic
    // gaps-and-islands over microsecond longs — integer-exact.
    Q("sessionize",
      (s, dir) => graft.ops.Sessionize.sessions(
        events(s, dir).withColumn("__t",
          timestamp_micros(expr("ts div 1000"))),
        "user_id", "__t", "12 hours"),
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
             |m AS (
             |  SELECT user_id, us,
             |    CASE WHEN lag(us) OVER w IS NULL
             |         OR us - lag(us) OVER w > 43200000000 THEN 1 ELSE 0 END AS brk
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
             |g AS (
             |  SELECT user_id, us, sum(brk) OVER (PARTITION BY user_id ORDER BY us
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             |  FROM m)
             |SELECT user_id, min(us) AS session_start_us,
             |       max(us) + 43200000000 AS session_end_us,
             |       count(*) AS n_events
             |FROM g GROUP BY user_id, sid""".stripMargin))
  )
}
