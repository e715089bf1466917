package graft.queries

import graft.kernels.SonarRegrid
import graft.ops.Spectra
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Sonar polar→cartesian regrid as a registered query (stglib/son/nc2xy.py:
 * 60-123), with an exact DuckDB oracle replaying the bilinear fan
 * interpolation (compass angle + radius per cell, binarySearch bracket
 * semantics, NULL outside the fan); SonarRegridSpec's radial-ramp and
 * compass-orientation goldens cover the kernel directly.
 *
 * Scans synthesize from events: one fan per user_id, sweep/range indices
 * from a per-user (partitioned) row_number, intensity from `value`. The
 * kernel runs once per scan through Spectra.perGroup, the bounded-state
 * per-group fan-out (the reference loops scans on the driver).
 */
object SonarQueries {
  private val NSWEEP = 12  // 30-deg sweep lines
  private val NRANGE = 4   // 0.5 m range cells: 0.5..2.0 m
  private val TOTAL_RANGE = 2.0
  private val DXY = 0.5

  def qs: Seq[Q] = Seq(
    Q("sonar_regrid",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val grid = Tables.events(s, dir)
          .withColumn("rn", row_number().over(w) - 1)
          .withColumn("sweep", expr(s"rn div $NRANGE"))
          .withColumn("rcell", col("rn") % NRANGE)
          .filter(col("sweep") < NSWEEP)
          .withColumn("nb", count(lit(1)).over(Window.partitionBy("user_id")))
          .filter(col("nb") >= NSWEEP * NRANGE) // full fans only
          .select(col("user_id").cast("long").as("_1"),
            col("rn").cast("long").as("_2"), col("value").cast("double").as("_3"))
          .as[(Long, Long, Double)]
        val out = Spectra.perGroup(grid) { (scan, rows) =>
          val thetas = Array.tabulate(NSWEEP)(i => i * 360.0 / NSWEEP)
          val ranges = Array.tabulate(NRANGE)(i => 0.5 + i * 0.5)
          val image = Array.tabulate(NSWEEP, NRANGE)((t, r) =>
            rows(t * NRANGE + r)._3)
          val (axis, img) = SonarRegrid.regrid(
            thetas, ranges, image, TOTAL_RANGE, DXY)
          for {
            ix <- axis.indices.iterator
            iy <- axis.indices.iterator
          } yield (scan, ix, iy, axis(ix), axis(iy),
            if (img(ix)(iy).isNaN) None else Some(img(ix)(iy)))
        }
        out.toDF("scan", "ix", "iy", "x", "y", "v")
          .withColumn("v", round(col("v"), 8))
      },
      // bilinear fan interpolation replayed in SQL: compass-angle + radius
      // per cell, binarySearch bracket semantics (exact hit -> that line;
      // else insertion - 1; clamp to len-2), outside the fan -> NULL.
      // Angle grid lines are only ever hit EXACTLY by the axis-aligned
      // special cases (atan2(0, +x) = +0 etc.), identical in both engines;
      // all other boundaries are irrational angles of half-integer points,
      // bounded away from the grid, so ulp noise cannot flip a bracket.
      Some(s"""WITH base AS (
             |  SELECT user_id, value,
             |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS rn
             |  FROM events),
             |c48 AS (SELECT user_id FROM base WHERE rn // $NRANGE < $NSWEEP
             |  GROUP BY user_id HAVING count(*) >= ${NSWEEP * NRANGE}),
             |img AS (
             |  SELECT base.user_id AS scan, rn // $NRANGE AS sweep,
             |    rn % $NRANGE AS rcell, value AS z
             |  FROM base JOIN c48 USING (user_id)
             |  WHERE rn // $NRANGE < $NSWEEP),
             |ax AS (SELECT i AS idx, CAST(-$TOTAL_RANGE + i*$DXY AS DOUBLE) AS coord
             |  FROM (SELECT unnest(generate_series(0, ${(2 * TOTAL_RANGE / DXY).toInt})) AS i)),
             |cells AS (
             |  SELECT s.scan, gx.idx AS ix, gy.idx AS iy, gx.coord AS x, gy.coord AS y,
             |    sqrt(gx.coord*gx.coord + gy.coord*gy.coord) AS rho,
             |    (((-((atan2(gy.coord, gx.coord)*180.0)/pi()) + 90) % 360) + 360) % 360 AS tc
             |  FROM (SELECT DISTINCT scan FROM img) s, ax gx, ax gy),
             |br AS (
             |  SELECT c.*,
             |    least(CASE WHEN c.tc = floor(c.tc / (360.0/$NSWEEP))*(360.0/$NSWEEP)
             |               THEN CAST(floor(c.tc / (360.0/$NSWEEP)) AS INTEGER)
             |               ELSE CAST((SELECT count(*) FROM (SELECT unnest(generate_series(0, ${NSWEEP - 1})) AS i)
             |                          WHERE i*360.0/$NSWEEP < c.tc) AS INTEGER) - 1 END,
             |          ${NSWEEP - 2}) AS si,
             |    least(CASE WHEN c.rho = 0.5 OR c.rho = 1.0 OR c.rho = 1.5 OR c.rho = 2.0
             |               THEN CAST(floor((c.rho - 0.5) / 0.5) AS INTEGER)
             |               ELSE CAST((SELECT count(*) FROM (SELECT unnest(generate_series(0, ${NRANGE - 1})) AS i)
             |                          WHERE 0.5 + i*0.5 < c.rho) AS INTEGER) - 1 END,
             |          ${NRANGE - 2}) AS ri
             |  FROM cells c),
             |w AS (
             |  SELECT br.*,
             |    (tc - (si*360.0/$NSWEEP)) / (((si+1)*360.0/$NSWEEP) - (si*360.0/$NSWEEP)) AS tx,
             |    (rho - (0.5 + ri*0.5)) / ((0.5 + (ri+1)*0.5) - (0.5 + ri*0.5)) AS ty
             |  FROM br)
             |SELECT w.scan, CAST(w.ix AS INTEGER) AS ix, CAST(w.iy AS INTEGER) AS iy,
             |  w.x, w.y,
             |  CASE WHEN w.tc < 0.0 OR w.tc > ${(NSWEEP - 1) * 360.0 / NSWEEP}
             |         OR w.rho < 0.5 OR w.rho > $TOTAL_RANGE THEN NULL
             |  ELSE round(z00.z*(1 - w.tx)*(1 - w.ty) + z10.z*w.tx*(1 - w.ty)
             |           + z01.z*(1 - w.tx)*w.ty + z11.z*w.tx*w.ty, 8) END AS v
             |FROM w
             |LEFT JOIN img z00 ON z00.scan = w.scan AND z00.sweep = w.si AND z00.rcell = w.ri
             |LEFT JOIN img z10 ON z10.scan = w.scan AND z10.sweep = w.si + 1 AND z10.rcell = w.ri
             |LEFT JOIN img z01 ON z01.scan = w.scan AND z01.sweep = w.si AND z01.rcell = w.ri + 1
             |LEFT JOIN img z11 ON z11.scan = w.scan AND z11.sweep = w.si + 1 AND z11.rcell = w.ri + 1""".stripMargin),
      note = "bilinear fan regrid; goldens in SonarRegridSpec"))
}
