package graft.queries

import graft.kernels.Butterworth
import graft.ops.Spectra
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Spectral/wave kernel queries (SURVEY §2.10). The closed-form chains
 * (Welch, PUV, DIWASP DFTM incl. interp/smooth/infospec) carry exact
 * DuckDB oracles that replay the kernels as direct DFTs in SQL; only the
 * genuinely iterative kernels (IMLM's 50 matrix-inversion rounds, the IIR
 * filtfilt recursion) stay rows-only, covered by the kernel ScalaTest
 * suites (Parseval, dispersion, monochromatic Hs) and the numpy
 * cross-check in tools/.
 *
 * Bursts are synthesized from the events stream: global (ts, event_id) order
 * chopped into fixed-size bursts — the same reshape the reference applies to
 * continuous loggers (make_wave_bursts_mi, stglib/core/waves.py:2037-2091).
 */
object WaveQueries {
  import Tables._

  /** events → long-format (burst, sample, value…) with only full bursts kept. */
  private def bursts(s: org.apache.spark.sql.SparkSession, dir: String, n: Int) = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events(s, dir)
      .withColumn("rn", row_number().over(w) - 1)
      .withColumn("burst", col("user_id") * 1000 + (col("rn") / n).cast("long"))
      .withColumn("sample", col("rn") % n)
      .withColumn("nb", count(lit(1)).over(Window.partitionBy("burst")))
      .filter(col("nb") === n)
  }

  /** Global-order bursts of n samples (for kernels needing long bursts:
    * the elev variant's flo = 32-cycles band requires nsamps >> 64).
    * [[graft.ops.Burst.fromContinuous]]'s whole-series branch: one ordered
    * sweep, where an unpartitioned row_number window would serialize the
    * events table through one task. */
  private def burstsGlobal(s: org.apache.spark.sql.SparkSession, dir: String, n: Int) =
    graft.ops.Burst.fromContinuous(events(s, dir), Seq("ts", "event_id"), Nil, n,
      "burst", "sample")

  /** EXACT period-8 sine table for the monochromatic 0.125-cycle/sample
    * fixtures — engine sin() (java Math.sin vs DuckDB's C sin) differs by
    * 1 ulp on some arguments, which walked a burst-mean depth across a
    * round(x, 8) boundary on one fuzz seed. Decimal literals parse to
    * identical doubles in both engines; the SQL twin indexes the same
    * list literal.
    *
    * The table is additionally snapped to a DYADIC grid (multiples of
    * 2^-26): with the signal AND the noise term on a shared dyadic grid,
    * every per-burst/per-segment SUM of the samples is exact in ANY
    * summation order (64 values on a 2^-27 grid near magnitude 10 need
    * ~44 mantissa bits < 53), so the kernel's sequential sample-order sum
    * and the oracle's order-free SQL AVG agree BITWISE. Identical decimal
    * literals alone are not enough: fuzz seed 12 walked the burst-mean
    * depth across a round(,8) half-boundary purely through summation
    * ORDER (Spark partial aggregation vs DuckDB storage order) on
    * full-mantissa noise. The 1.5e-8 deviation from the true sine is a
    * fixture definition choice, invisible to every spectral tolerance. */
  private[queries] val sin8DyadicVals: Seq[Double] = {
    val s = math.rint(0.7071067811865476 * (1L << 26)) / (1L << 26)
    Seq(0.0, s, 1.0, s, 0.0, -s, -1.0, -s)
  }
  private def sin8Lut = lutCol(sin8DyadicVals, col("sample") % 8)

  /** Dyadic noise from the events value stream: floor(value·2^s1)/2^s2
    * lands every noise sample on the 2^(s1−s2) grid. `value·2^s1` is an
    * exact exponent shift, `floor` of it is engine-identical, and the
    * final division by a power of two is exact — so the whole term is the
    * SAME double in both engines AND keeps burst sums order-exact (the
    * fuzz corpus bounds |value| ≤ ~1e6, well inside floor's exact range). */
  private def dyadicNoise(shiftUp: Int, shiftDown: Int) =
    floor(col("value") * math.pow(2.0, shiftUp)) / math.pow(2.0, shiftDown)
  private def dyadicNoiseSql(shiftUp: Int, shiftDown: Int): String =
    s"floor(value * ${math.pow(2.0, shiftUp)}) / ${math.pow(2.0, shiftDown)}"

  /** Exact per-sensor signal LUTs for the PUV/DIWASP fixtures: Scala
    * computes the linear-theory amplitude constants ONCE and embeds the
    * resulting amplitude×phase products as decimal literals in BOTH the
    * Spark fixture and its SQL twin — the engines index identical
    * constants, so no libm trig difference (java vs C cos at 400-radian
    * arguments) or dispersion-Newton ulp can split them. Closes the
    * NOTES r17 "residual 1-ulp boundary risk" for these fixtures the
    * same way sin8Lut did for the wave_stats trio. */
  private def lutCol(vals: Seq[Double], idx: org.apache.spark.sql.Column) =
    element_at(array(vals.map(lit): _*), idx.cast("int") + 1)
  private def lutSqlList(vals: Seq[Double]): String =
    vals.zipWithIndex.map { case (v, i) =>
      val s = java.lang.Double.toString(v)
      if (i == 0) s + "::DOUBLE" else s
    }.mkString("[", ", ", "]")

  // period-8 cos / period-10 sin phase tables (exact doubles of the true
  // values — the fixture DEFINITION, not an engine's rounding of it)
  private val cos8Vals = Seq(1.0, 0.7071067811865476, 0.0,
    -0.7071067811865476, -1.0, -0.7071067811865476, 0.0, 0.7071067811865476)
  private val sin10Vals = Seq(0.0, 0.5877852522924731, 0.9510565162951535,
    0.9510565162951535, 0.5877852522924731, 0.0, -0.5877852522924731,
    -0.9510565162951535, -0.9510565162951535, -0.5877852522924731)

  /** DIWASP fixture LUTs: 8 s (f0 = 0.125) wave toward 30° at depth 10,
    * zp = 0.5, zuv = 1 — (p, u, v) amplitude×cos-phase products. */
  private lazy val (dwLutP, dwLutU, dwLutV) = {
    val k = graft.kernels.Diwasp.wavenumber(2 * math.Pi * 0.125, 10.0)
    val aP = 0.5 * math.cosh(k * 0.5) / math.cosh(k * 10.0)
    val aU = 0.5 * 2 * math.Pi * 0.125 *
      math.cosh(k * 1.0) / math.sinh(k * 10.0)
    (cos8Vals.map(_ * aP),
      cos8Vals.map(_ * aU * math.cos(math.toRadians(30.0))),
      cos8Vals.map(_ * aU * math.sin(math.toRadians(30.0))))
  }

  /** puv_stats fixture LUTs: 10 s (f0 = 0.1) wave, v = 0.3·u. */
  private lazy val (psLutP, psLutU, psLutV) = {
    val k = graft.kernels.Spectral.qkfs(2 * math.Pi * 0.1, 10.0)
    val aP = 0.5 * math.cosh(k * 0.5) / math.cosh(k * 10.0)
    val aU = 0.5 * 2 * math.Pi * 0.1 *
      math.cosh(k * 1.0) / math.sinh(k * 10.0)
    (sin10Vals.map(_ * aP), sin10Vals.map(_ * aU),
      sin10Vals.map(_ * 0.3 * aU))
  }

  /** Shared synthetic PUV bursts: 8 s wave toward 30 deg (trig convention)
    * with linear-theory-consistent amplitudes. */
  private def puvBursts(s: org.apache.spark.sql.SparkSession, dir: String) = {
    // sensor noise must be DECORRELATED across p/u/v: with identical noise
    // the cross-spectral matrix is rank-1 (perfectly coherent) and the
    // matrix-inverting IMLM estimator blows up — only the direct DFTM
    // survives. Distinct integer mixes of `value` give pseudo-independent
    // deterministic noise per sensor.
    val i8 = col("sample") % 8
    burstsGlobal(s, dir, 512)
      .withColumn("p", lutCol(dwLutP, i8) + (col("value") * 7919.0 % 97.0) / 5000.0)
      .withColumn("u", lutCol(dwLutU, i8) + (col("value") * 104729.0 % 89.0) / 5000.0)
      .withColumn("v", lutCol(dwLutV, i8) + (col("value") * 15485863.0 % 83.0) / 5000.0)
      .toDF()
  }

  // ---- DFT-in-SQL oracles for the Welch pipeline ------------------------
  // The per-burst kernels (Welch PSD → dispersion → transfer → tail →
  // moments) are closed-form arithmetic, so the oracle can replay them as a
  // direct DFT in SQL. Cross-engine differences are ulp-level (libm trig,
  // FFT-vs-DFT summation order), absorbed by round(8) on every derived
  // output; frequencies are exact dyadics (q·fs/2^m).

  /** One Newton step of the Wiberg–Sherwood dispersion solve on column
    * expression `y` (tanh via exp — DuckDB 1.0 has no tanh). */
  private def newtonSql(y: String): String = {
    val t = s"((exp(2*$y)-1)/(exp(2*$y)+1))"
    s"$y - (($y*$t - x) / ($t + $y*(1.0 - $t*$t)))"
  }

  /** Welch PSD chain: `bbCtes` must define CTE bb(burst, sample, p) holding
    * only full bursts of `nsamps`; emits CTE psd(burst, q, f, pxx) for
    * nperseg = np (hann, 50% overlap, per-segment mean detrend, density
    * scaling, one-sided doubling) — mirrors kernels/Welch.psd. */
  private def welchSql(bbCtes: String, nsamps: Int, np: Int): String = {
    val step = np / 2
    val nseg = (nsamps - np) / step + 1
    s"""$bbCtes,
       |win AS (SELECT j, 0.5 - 0.5*cos(2*pi()*j/$np) AS w
       |  FROM (SELECT unnest(generate_series(0, ${np - 1})) AS j)),
       |wss AS (SELECT sum(w*w) AS wss FROM win),
       |seg AS (
       |  SELECT bb.burst, g.s, bb.sample - g.s*$step AS j, bb.p
       |  FROM bb, (SELECT unnest(generate_series(0, ${nseg - 1})) AS s) g
       |  WHERE bb.sample - g.s*$step BETWEEN 0 AND ${np - 1}),
       |segmean AS (SELECT burst, s, sum(p)/$np AS m FROM seg GROUP BY burst, s),
       |segw AS (SELECT seg.burst, seg.s, seg.j, (seg.p - sm.m) * win.w AS xw
       |  FROM seg JOIN segmean sm USING (burst, s) JOIN win USING (j)),
       |dft AS (
       |  SELECT burst, s, qq.q,
       |    sum(xw * cos(2*pi()*qq.q*j/$np)) AS re,
       |    sum(xw * sin(2*pi()*qq.q*j/$np)) AS im
       |  FROM segw, (SELECT unnest(generate_series(0, ${np / 2})) AS q) qq
       |  GROUP BY burst, s, qq.q),
       |pwr AS (SELECT burst, q, sum(re*re + im*im) AS acc FROM dft GROUP BY burst, q),
       |psd AS (
       |  SELECT burst, q, q * 1.0 / $np AS f,
       |    acc/$nseg*(1.0/(1.0*wss.wss))*(CASE WHEN q = 0 OR q = ${np / 2} THEN 1.0 ELSE 2.0 END) AS pxx
       |  FROM pwr, wss)""".stripMargin
  }

  /** Pressure bursts (64 samples, per-user order) → elevation spectrum CTE
    * chain ending in spec(burst, q, f, pspec) — mirrors
    * Spectral.waveStatsFromPressure with z=0.5, fs=1, nsegs=4, fcut=0.2:
    * Welch → h = mean+z → qkfs dispersion → Kp transfer (NaN k at f=0 →
    * Kp=1) → pnn = pxx/Kp² → user cutoff (first f ≥ 0.2) → f⁻⁴ tail. */
  private def presSpecCtes: String = {
    val bb =
      s"""pb AS (
        |  SELECT user_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS rn
        |  FROM events),
        |b0 AS (
        |  SELECT user_id * 1000 + rn // 64 AS burst, rn % 64 AS sample,
        |    10.0 + 0.5 * (${lutSqlList(sin8DyadicVals)})[CAST(rn % 8 AS INTEGER) + 1] + ${dyadicNoiseSql(5, 15)} AS p
        |  FROM pb),
        |fullb AS (SELECT burst FROM b0 GROUP BY burst HAVING count(*) = 64),
        |bb AS (SELECT b0.burst, b0.sample, b0.p FROM b0 JOIN fullb USING (burst))""".stripMargin
    s"""${welchSql(bb, 64, 16)},
       |hh AS (SELECT burst, sum(p)/64 + 0.5 AS h FROM bb GROUP BY burst),
       |d0 AS (SELECT psd.burst, psd.q, psd.f, psd.pxx, hh.h,
       |    2*pi()*psd.f AS omega FROM psd JOIN hh USING (burst)),
       |d1 AS (SELECT *, omega*omega*h/9.81 AS x FROM d0),
       |d2 AS (SELECT *, CASE WHEN x < 1.0 THEN sqrt(x) ELSE x END AS y0 FROM d1),
       |d3 AS (SELECT *, ${newtonSql("y0")} AS y1 FROM d2),
       |d4 AS (SELECT *, ${newtonSql("y1")} AS y2 FROM d3),
       |d5 AS (SELECT *, ${newtonSql("y2")} AS y3 FROM d4),
       |d6 AS (SELECT *, y3/h AS k FROM d5),
       |kpc AS (SELECT *, CASE WHEN k IS NULL OR isnan(k) THEN 1.0 ELSE
       |    ((exp(k*0.5)+exp(-(k*0.5)))/2)/((exp(k*h)+exp(-(k*h)))/2) END AS kp FROM d6),
       |pnn AS (SELECT *, pxx/(kp*kp) AS pnn FROM kpc),
       |ti AS (SELECT burst, min(q) AS tq FROM pnn WHERE f >= 0.2 GROUP BY burst),
       |tv AS (SELECT p.burst, p.f AS ft, p.pnn AS pt
       |  FROM pnn p JOIN ti ON p.burst = ti.burst AND p.q = ti.tq),
       |spec AS (SELECT pnn.burst, pnn.q, pnn.f,
       |    CASE WHEN pnn.q < ti.tq THEN pnn.pnn
       |         ELSE tv.pt/((pnn.f/tv.ft)*(pnn.f/tv.ft)*(pnn.f/tv.ft)*(pnn.f/tv.ft)) END AS pspec
       |  FROM pnn JOIN ti USING (burst) JOIN tv USING (burst))""".stripMargin
  }

  /** Trapezoidal moments + first-max peak + wave stats over a spec CTE. */
  private def statsSql(extra: String): String =
    s"""mom AS (
       |  SELECT a.burst,
       |    sum(0.5*(a.pspec*pow(a.f, 0) + b.pspec*pow(b.f, 0))*(b.f - a.f)) AS m0,
       |    sum(0.5*(a.pspec*pow(a.f, 2) + b.pspec*pow(b.f, 2))*(b.f - a.f)) AS m2
       |  FROM spec a JOIN spec b ON a.burst = b.burst AND b.q = a.q + 1
       |  GROUP BY a.burst),
       |pk AS (SELECT burst, q AS pq, f AS pf FROM (
       |    SELECT burst, q, f,
       |      row_number() OVER (PARTITION BY burst ORDER BY pspec DESC, q) AS rn
       |    FROM spec) WHERE rn = 1)
       |SELECT mom.burst,$extra
       |  round(4.0*sqrt(m0), 8) AS wh_4061,
       |  round(sqrt(m0/m2), 8) AS wp_4060,
       |  CASE WHEN pk.pq = 0 THEN CAST('nan' AS DOUBLE)
       |       ELSE round(1.0/pk.pf, 8) END AS wp_peak,
       |  round(m0, 8) AS m0, round(m2, 8) AS m2""".stripMargin

  /** Global-order elevation bursts (512 samples) → band-limited spectrum
    * spec(burst, q, f, pspec) — mirrors Spectral.waveStatsFromElevation
    * with fs=1, nsegs=8: flo = rint(1/(512/32)·1000)/1000 = 0.062,
    * fhi = min(2, fs/2) = 0.5, no transfer, no tail. */
  private def elevSpecCtes: String = {
    val bb =
      s"""gb AS (
        |  SELECT value, row_number() OVER (ORDER BY ts, event_id) - 1 AS rn
        |  FROM events),
        |b0 AS (
        |  SELECT rn // 512 AS burst, rn % 512 AS sample,
        |    0.40625 * (${lutSqlList(sin8DyadicVals)})[CAST(rn % 8 AS INTEGER) + 1] + ${dyadicNoiseSql(4, 15)} - 0.025390625 AS p
        |  FROM gb),
        |fullb AS (SELECT burst FROM b0 GROUP BY burst HAVING count(*) = 512),
        |bb AS (SELECT b0.burst, b0.sample, b0.p FROM b0 JOIN fullb USING (burst))""".stripMargin
    s"""${welchSql(bb, 512, 64)},
       |spec AS (SELECT burst, q, f, pxx AS pspec FROM psd
       |  WHERE f >= 0.062 AND f <= 0.5)""".stripMargin
  }

  /** puv_quick oracle — mirrors kernels/Puv.puvQuick branch-for-branch for
    * the registered synthetic input (depth=10, zp=0.5, zuv=1, fs=1,
    * fftLength=512 → ONE Welch segment, df = 2^-9 so the x2 and xdf
    * scalings are exact). Band indices are compile-time constants of the
    * f-grid:
    * ff=10, lf=103, ig=25 (same firstAbove/last<=cut logic, precomputed). */
  private def puvSql: String = {
    // fixture signal: the SAME amplitude×phase decimal literals the Spark
    // side indexes (lutCol/psLut*) — no per-row trig or dispersion solve,
    // so no engine-libm ulp can split the fixtures
    s"""WITH gb AS (
       |  SELECT value, row_number() OVER (ORDER BY ts, event_id) - 1 AS rn
       |  FROM events),
       |raw AS (
       |  SELECT rn // 512 AS burst, rn % 512 AS sample,
       |    10.0 + (${lutSqlList(psLutP)})[CAST((rn % 512) % 10 AS INTEGER) + 1] + value / 5000.0 AS p0,
       |    (${lutSqlList(psLutU)})[CAST((rn % 512) % 10 AS INTEGER) + 1] + value / 10000.0 AS u0,
       |    (${lutSqlList(psLutV)})[CAST((rn % 512) % 10 AS INTEGER) + 1] + value / 10000.0 AS v0
       |  FROM gb),
       |fullb AS (SELECT burst FROM raw GROUP BY burst HAVING count(*) = 512),
       |r2 AS (SELECT raw.* FROM raw JOIN fullb USING (burst)),
       |-- least-squares linear detrend per burst (y - (mean + b*(t - 255.5)))
       |dt AS (
       |  SELECT burst,
       |    sum(p0)/512 AS pm, sum((sample - 255.5)*p0)/(512.0*(512.0*512 - 1)/12.0) AS pb,
       |    sum(u0)/512 AS um, sum((sample - 255.5)*u0)/(512.0*(512.0*512 - 1)/12.0) AS ub,
       |    sum(v0)/512 AS vm, sum((sample - 255.5)*v0)/(512.0*(512.0*512 - 1)/12.0) AS vb
       |  FROM r2 GROUP BY burst),
       |bb AS (
       |  SELECT r2.burst, r2.sample,
       |    (p0 - (pm + pb*(sample - 255.5))) * 1025.0 * 9.81 AS p,
       |    u0 - (um + ub*(sample - 255.5)) AS u,
       |    v0 - (vm + vb*(sample - 255.5)) AS v
       |  FROM r2 JOIN dt USING (burst)),
       |win AS (SELECT j, 0.5 - 0.5*cos(2*pi()*j/512) AS w
       |  FROM (SELECT unnest(generate_series(0, 511)) AS j)),
       |wss AS (SELECT sum(w*w) AS wss FROM win),
       |sm AS (SELECT burst, sum(p)/512 AS pm2, sum(u)/512 AS um2,
       |    sum(v)/512 AS vm2 FROM bb GROUP BY burst),
       |xw AS (
       |  SELECT bb.burst, bb.sample AS j, (p - pm2)*w.w AS pw,
       |    (u - um2)*w.w AS uw, (v - vm2)*w.w AS vw
       |  FROM bb JOIN sm USING (burst) JOIN win w ON w.j = bb.sample),
       |dft AS (
       |  SELECT burst, qq.q,
       |    sum(pw * cos(2*pi()*qq.q*j/512)) AS pre, sum(pw * sin(2*pi()*qq.q*j/512)) AS pim,
       |    sum(uw * cos(2*pi()*qq.q*j/512)) AS ure, sum(uw * sin(2*pi()*qq.q*j/512)) AS uim,
       |    sum(vw * cos(2*pi()*qq.q*j/512)) AS vre, sum(vw * sin(2*pi()*qq.q*j/512)) AS vim
       |  FROM xw, (SELECT unnest(generate_series(0, 256)) AS q) qq
       |  GROUP BY burst, qq.q),
       |psd AS (
       |  SELECT burst, q, q * 1.0 / 512 AS f,
       |    (pre*pre+pim*pim)/1*(1.0/(1.0*wss.wss))*(CASE WHEN q = 0 OR q = 256 THEN 1.0 ELSE 2.0 END) AS gpp,
       |    (ure*ure+uim*uim)/1*(1.0/(1.0*wss.wss))*(CASE WHEN q = 0 OR q = 256 THEN 1.0 ELSE 2.0 END) AS guu,
       |    (vre*vre+vim*vim)/1*(1.0/(1.0*wss.wss))*(CASE WHEN q = 0 OR q = 256 THEN 1.0 ELSE 2.0 END) AS gvv
       |  FROM dft, wss),
       |-- dispersion k(f) at depth 10 + transfer functions (q=0 pinned to 1)
       |e0 AS (SELECT *, guu + gvv AS guv, 2*pi()*f AS omega FROM psd),
       |e1 AS (SELECT *, omega*omega*10.0/9.81 AS x FROM e0),
       |e2 AS (SELECT *, CASE WHEN x < 1.0 THEN sqrt(x) ELSE x END AS y0 FROM e1),
       |e3 AS (SELECT *, ${newtonSql("y0")} AS y1 FROM e2),
       |e4 AS (SELECT *, ${newtonSql("y1")} AS y2 FROM e3),
       |e5 AS (SELECT *, ${newtonSql("y2")} AS y3 FROM e4),
       |e6 AS (SELECT *, y3/10.0 AS k FROM e5),
       |tf AS (
       |  SELECT *,
       |    CASE WHEN q = 0 THEN 1.0 ELSE
       |      1025.0 * 9.81 * (((exp(k*0.5)+exp(-(k*0.5)))/2)/((exp(k*10.0)+exp(-(k*10.0)))/2)) END AS hp,
       |    CASE WHEN q = 0 THEN 1.0 ELSE
       |      omega * (((exp(k*1.0)+exp(-(k*1.0)))/2)/((exp(k*10.0)-exp(-(k*10.0)))/2)) END AS huv,
       |    CASE WHEN k IS NULL OR isnan(k) THEN 1.0 ELSE
       |      ((exp(k*0.5)+exp(-(k*0.5)))/2)/((exp(k*10.0)+exp(-(k*10.0)))/2) END AS kp,
       |    CASE WHEN k IS NULL OR isnan(k) THEN 1.0 ELSE
       |      ((exp(k*1.0)+exp(-(k*1.0)))/2)/((exp(k*10.0)+exp(-(k*10.0)))/2) END AS kpu
       |  FROM e6),
       |-- J&M cutoff per burst for (gpp, kp) and (guv, kpu)
       |jm AS (
       |  SELECT burst,
       |    12.0*(sum(gpp) FILTER (WHERE f >= 0.9*0.5)/count(*) FILTER (WHERE f >= 0.9*0.5)) AS nfp,
       |    12.0*(sum(guv) FILTER (WHERE f >= 0.9*0.5)/count(*) FILTER (WHERE f >= 0.9*0.5)) AS nfu
       |  FROM tf GROUP BY burst),
       |pkq AS (
       |  SELECT burst,
       |    first(q ORDER BY gpp DESC, q) AS imaxp,
       |    first(q ORDER BY guv DESC, q) AS imaxu
       |  FROM tf GROUP BY burst),
       |cut AS (
       |  SELECT tf.burst,
       |    coalesce(max(tf.q) FILTER (WHERE tf.gpp > jm.nfp), 0) AS ncp,
       |    coalesce(max(tf.q) FILTER (WHERE tf.guv > jm.nfu), 0) AS ncu,
       |    count(*) FILTER (WHERE tf.f < 1.1*(pp.f)) AS fpp,
       |    count(*) FILTER (WHERE tf.f < 1.1*(pu.f)) AS fpu,
       |    coalesce(max(tf.q + 1) FILTER (WHERE tf.kp > 0.1), 0) AS kcp,
       |    coalesce(max(tf.q + 1) FILTER (WHERE tf.kpu > 0.1), 0) AS kcu
       |  FROM tf
       |  JOIN jm USING (burst)
       |  JOIN pkq USING (burst)
       |  JOIN tf pp ON pp.burst = tf.burst AND pp.q = pkq.imaxp
       |  JOIN tf pu ON pu.burst = tf.burst AND pu.q = pkq.imaxu
       |  GROUP BY tf.burst),
       |tind AS (
       |  SELECT burst,
       |    CASE WHEN ncp > fpp AND ncp <= kcp THEN ncp
       |         WHEN ncp > fpp AND ncp > kcp THEN kcp ELSE -1 END AS tp_,
       |    CASE WHEN ncu > fpu AND ncu <= kcu THEN ncu
       |         WHEN ncu > fpu AND ncu > kcu THEN kcu ELSE -1 END AS tu_
       |  FROM cut),
       |tvp AS (SELECT tf.burst, tf.f AS ftp, tf.gpp/(tf.hp*tf.hp) AS ptp
       |  FROM tf JOIN tind ON tf.burst = tind.burst AND tf.q = tind.tp_),
       |tvu AS (SELECT tf.burst, tf.f AS ftu, tf.guv/(tf.huv*tf.huv) AS ptu
       |  FROM tf JOIN tind ON tf.burst = tind.burst AND tf.q = tind.tu_),
       |-- band sums (df = 1/512 exact dyadic); snp/snu band is [10, 103)
       |agg AS (
       |  SELECT tf.burst,
       |    sum(tf.gpp/(tf.hp*tf.hp)) FILTER (WHERE q >= 10 AND q < 103) AS snpsum,
       |    sum(tf.guv/(tf.huv*tf.huv)) FILTER (WHERE q >= 10 AND q < 103) AS snusum,
       |    sum(tf.guv) FILTER (WHERE q >= 10 AND q < 103) AS guvband,
       |    sum(tf.omega*tf.guv*0.001953125) FILTER (WHERE q >= 10 AND q < 103) AS omnum,
       |    sum(tf.guv*0.001953125) FILTER (WHERE q >= 10 AND q < 103) AS omden,
       |    sum(tf.guu) FILTER (WHERE q >= 10 AND q < 103) AS guuband,
       |    sum(tf.gvv) FILTER (WHERE q >= 10 AND q < 103) AS gvvband,
       |    sum(tf.guv) FILTER (WHERE q >= 1 AND q < 10) AS guvlo,
       |    sum(tf.guv) FILTER (WHERE q >= 10 AND q < 25) AS guvig,
       |    sum(tf.guv) FILTER (WHERE q >= 103) AS guvhi,
       |    sum(CASE WHEN tind.tp_ >= 0 AND q >= tind.tp_
       |          THEN tvp.ptp/((tf.f/tvp.ftp)*(tf.f/tvp.ftp)*(tf.f/tvp.ftp)*(tf.f/tvp.ftp))
       |          ELSE tf.gpp/(tf.hp*tf.hp) END) FILTER (WHERE q >= 1) AS snptail,
       |    sum(CASE WHEN tind.tu_ >= 0 AND q >= tind.tu_
       |          THEN tvu.ptu/((tf.f/tvu.ftu)*(tf.f/tvu.ftu)*(tf.f/tvu.ftu)*(tf.f/tvu.ftu))
       |          ELSE tf.guv/(tf.huv*tf.huv) END) FILTER (WHERE q >= 1) AS snutail
       |  FROM tf JOIN tind USING (burst)
       |  LEFT JOIN tvp USING (burst) LEFT JOIN tvu USING (burst)
       |  GROUP BY tf.burst),
       |-- first-max peaks inside the clip band
       |pks AS (
       |  SELECT burst,
       |    first(q ORDER BY gpphp DESC, q) AS qp,
       |    first(q ORDER BY guvhuv DESC, q) AS qu
       |  FROM (SELECT burst, q, gpp/(hp*hp) AS gpphp, guv/(huv*huv) AS guvhuv
       |        FROM tf WHERE q >= 10 AND q < 103) GROUP BY burst),
       |-- sign of corr(u, v) over the detrended series
       |sgn AS (
       |  SELECT b1.burst, sign(sum((u - mu)*(v - mv))) AS ortest
       |  FROM bb b1 JOIN (SELECT burst, sum(u)/512 AS mu, sum(v)/512 AS mv
       |                   FROM bb GROUP BY burst) m ON b1.burst = m.burst
       |  GROUP BY b1.burst)
       |SELECT agg.burst,
       |  round(2.0*sqrt(2.0*snpsum*0.001953125), 8) AS hrmsp,
       |  round(2.0*sqrt(2.0*snusum*0.001953125), 8) AS hrmsu,
       |  round(sqrt(2.0*(guvband*0.001953125)), 8) AS ubr,
       |  round(omnum/omden, 8) AS omegar,
       |  round(2*pi()/(omnum/omden), 8) AS tr,
       |  round(1.0/(qp * 1.0 / 512), 8) AS tpp,
       |  round(1.0/(qu * 1.0 / 512), 8) AS tpu,
       |  round(atan2(ortest*(gvvband*0.001953125), guuband*0.001953125), 8) AS phir,
       |  round(90.0 - degrees(atan2(ortest*(gvvband*0.001953125), guuband*0.001953125)), 8) AS azr,
       |  round(sqrt(2.0*(guvlo*0.001953125)), 8) AS ublo,
       |  round(sqrt(2.0*(guvhi*0.001953125)), 8) AS ubhi,
       |  round(sqrt(2.0*(guvig*0.001953125)), 8) AS ubig,
       |  CASE WHEN tind.tp_ < 0 THEN CAST('nan' AS DOUBLE)
       |       ELSE round(2.0*sqrt(2.0*(snptail*0.001953125)), 8) END AS hrmsp_tail,
       |  CASE WHEN tind.tu_ < 0 THEN CAST('nan' AS DOUBLE)
       |       ELSE round(2.0*sqrt(2.0*(snutail*0.001953125)), 8) END AS hrmsu_tail
       |FROM agg JOIN tind USING (burst) JOIN pks USING (burst) JOIN sgn USING (burst)""".stripMargin
  }

  /** DIWASP DFTM oracle chain — mirrors kernels/Diwasp.dirspec for the
    * registered puvBursts input (colocated p/u/v sensors: every kx phase is
    * exactly 0, so the estimator's complex exponentials collapse to 1 and
    * the auto-spectra are exactly real). Emits CTE smg(burst, q, d, s):
    * the clamped + smoothed directional spectrum over the kept band.
    *
    * The Dalrymple wavenumber solve (data-dependent Newton loop) runs as a
    * recursive CTE carrying (a1, da1) until |da1/a1| <= 1e-8 — the same
    * stop rule as the kernel; tanh/cosh via exp (DuckDB 1.0). */
  private def diwaspKeepBand(nfft: Int): (Int, Int) = {
    // kept band replicated with the kernel's own double comparisons
    val keep = (1 to nfft / 2)
      .filter(q => q * 1.0 / nfft >= 0.05 && q * 1.0 / nfft <= 0.45)
    (keep.head, keep.last)
  }

  /** Front half of the DIWASP replay: detrend -> window -> DFT ->
    * cross-power xps(burst, q, re/im 3x3) + transfer trm(q, d, t0/t1/t2).
    * Shared by the DFTM and IMLM oracles. */
  private def diwaspFrontCtes(nfft: Int, dres: Int): String = {
    val nseg = 512 / nfft
    val (qLo, qHi) = diwaspKeepBand(nfft)
    val th = (x: String) => s"((exp(2*$x)-1)/(exp(2*$x)+1))"
    val ch = (x: String) => s"((exp($x)+exp(-($x)))/2)"
    val sh = (x: String) => s"((exp($x)-exp(-($x)))/2)"
    val pairs = for (m <- 0 to 2; n <- 0 to 2) yield (m, n)
    s"""gb AS (
       |  SELECT value, row_number() OVER (ORDER BY ts, event_id) - 1 AS rn
       |  FROM events),
       |qg AS (SELECT unnest(generate_series($qLo, $qHi)) AS q),
       |dg AS (SELECT unnest(generate_series(0, ${dres - 1})) AS d),
       |dd AS (SELECT d, -pi() + d*2.0*pi()/$dres AS dir FROM dg),
       |seeds AS (
       |  SELECT q, ((2*pi())*(q*1.0/$nfft))*((2*pi())*(q*1.0/$nfft))*10.0/9.81 AS a0 FROM qg),
       |wn AS (
       |  SELECT q, a0,
       |    a0*pow(1.0/${th(s"pow(a0, 0.75)")}, 0.666) AS a1,
       |    CAST(1000 AS DOUBLE) AS da1
       |  FROM seeds
       |  UNION ALL
       |  SELECT q, a0,
       |    a1 + (-(a0 - a1*${th("a1")}) / (-a1/(${ch("a1")}*${ch("a1")}) - ${th("a1")})),
       |    (-(a0 - a1*${th("a1")}) / (-a1/(${ch("a1")}*${ch("a1")}) - ${th("a1")}))
       |  FROM wn WHERE abs(da1/a1) > 1e-8),
       |kk AS (SELECT q, a1/10.0 AS k FROM wn WHERE abs(da1/a1) <= 1e-8),
       |-- fixture signal: the SAME amplitude×phase decimal literals the
       |-- Spark side indexes (no per-row trig, no dispersion solve here)
       |raw AS (
       |  SELECT rn // 512 AS burst, rn % 512 AS sample,
       |    (${lutSqlList(dwLutP)})[CAST(rn % 8 AS INTEGER) + 1] + (value*7919.0 % 97.0)/5000.0 AS x0,
       |    (${lutSqlList(dwLutU)})[CAST(rn % 8 AS INTEGER) + 1] + (value*104729.0 % 89.0)/5000.0 AS x1,
       |    (${lutSqlList(dwLutV)})[CAST(rn % 8 AS INTEGER) + 1] + (value*15485863.0 % 83.0)/5000.0 AS x2
       |  FROM gb),
       |fullb AS (SELECT burst FROM raw GROUP BY burst HAVING count(*) = 512),
       |r2 AS (SELECT raw.* FROM raw JOIN fullb USING (burst)),
       |dt AS (
       |  SELECT burst,
       |    sum(x0)/512 AS m0_, sum((sample - 255.5)*x0)/(512.0*(512.0*512 - 1)/12.0) AS b0_,
       |    sum(x1)/512 AS m1_, sum((sample - 255.5)*x1)/(512.0*(512.0*512 - 1)/12.0) AS b1_,
       |    sum(x2)/512 AS m2_, sum((sample - 255.5)*x2)/(512.0*(512.0*512 - 1)/12.0) AS b2_
       |  FROM r2 GROUP BY burst),
       |bb AS (
       |  SELECT r2.burst, r2.sample,
       |    x0 - (m0_ + b0_*(sample - 255.5)) AS d0,
       |    x1 - (m1_ + b1_*(sample - 255.5)) AS d1,
       |    x2 - (m2_ + b2_*(sample - 255.5)) AS d2
       |  FROM r2 JOIN dt USING (burst)),
       |win AS (SELECT j, 0.54 - 0.46*cos(2*pi()*j/$nfft) AS w
       |  FROM (SELECT unnest(generate_series(0, ${nfft - 1})) AS j)),
       |wss AS (SELECT sum(w*w) AS wss FROM win),
       |xw AS (
       |  SELECT bb.burst, bb.sample // $nfft AS s, bb.sample % $nfft AS j,
       |    d0*w.w AS w0, d1*w.w AS w1, d2*w.w AS w2
       |  FROM bb JOIN win w ON w.j = bb.sample % $nfft),
       |dftc AS (
       |  SELECT burst, s, qg.q,
       |    sum(w0 * cos(2*pi()*qg.q*j/$nfft)) AS cre0, sum(w0 * sin(2*pi()*qg.q*j/$nfft)) AS csn0,
       |    sum(w1 * cos(2*pi()*qg.q*j/$nfft)) AS cre1, sum(w1 * sin(2*pi()*qg.q*j/$nfft)) AS csn1,
       |    sum(w2 * cos(2*pi()*qg.q*j/$nfft)) AS cre2, sum(w2 * sin(2*pi()*qg.q*j/$nfft)) AS csn2
       |  FROM xw, qg GROUP BY burst, s, qg.q),
       |xps AS (
       |  SELECT burst, q,
       |${pairs.map { case (m, n) =>
            s"    sum(cre$m*cre$n + csn$m*csn$n)*((1.0/(1.0*(SELECT wss FROM wss))*2.0)/$nseg) AS re$m$n,\n" +
            s"    sum(csn$m*cre$n - cre$m*csn$n)*((1.0/(1.0*(SELECT wss FROM wss))*2.0)/$nseg) AS im$m$n"
          }.mkString(",\n")}
       |  FROM dftc GROUP BY burst, q),
       |trm AS (
       |  SELECT kk.q, dd.d, dd.dir,
       |    greatest(${ch("(0.5*k)")}/${ch("(10.0*k)")}, 0.1) AS t0,
       |    ((2*pi())*(kk.q*1.0/$nfft))*greatest(${ch("(1.0*k)")}/${sh("(10.0*k)")}, 0.1)*cos(dd.dir) AS t1,
       |    ((2*pi())*(kk.q*1.0/$nfft))*greatest(${ch("(1.0*k)")}/${sh("(10.0*k)")}, 0.1)*sin(dd.dir) AS t2
       |  FROM kk, dd WHERE kk.q >= 0)"""
  }

  /** Clamp + smoothspec over an `ee(burst, q, d, dir, v)` CTE — the shared
    * tail of both estimators. */
  private def clSmgCtes(nfft: Int, dres: Int): String = {
    val (qLo, qHi) = diwaspKeepBand(nfft)
    s"""cl AS MATERIALIZED (SELECT burst, q, d, dir,
       |    CASE WHEN isnan(v) OR v < 0 THEN 0.0 ELSE v END AS v FROM ee),
       |smg AS MATERIALIZED (
       |  SELECT c.burst, c.q, c.d, c.dir,
       |    CASE WHEN c.q >= ${qLo + 2} AND c.q <= ${qHi - 2}
       |              AND c.d >= 2 AND c.d <= ${dres - 3} THEN
       |      (0.25*fm2.v + 0.5*fm1.v + 1.0*c.v + 0.5*fp1.v + 0.25*fp2.v
       |       + 0.25*dm2.v + 0.5*dm1.v + 1.0*c.v + 0.5*dp1.v + 0.25*dp2.v) / 5.0
       |    ELSE c.v END AS s
       |  FROM cl c
       |  LEFT JOIN cl fm2 ON fm2.burst = c.burst AND fm2.q = c.q - 2 AND fm2.d = c.d
       |  LEFT JOIN cl fm1 ON fm1.burst = c.burst AND fm1.q = c.q - 1 AND fm1.d = c.d
       |  LEFT JOIN cl fp1 ON fp1.burst = c.burst AND fp1.q = c.q + 1 AND fp1.d = c.d
       |  LEFT JOIN cl fp2 ON fp2.burst = c.burst AND fp2.q = c.q + 2 AND fp2.d = c.d
       |  LEFT JOIN cl dm2 ON dm2.burst = c.burst AND dm2.q = c.q AND dm2.d = c.d - 2
       |  LEFT JOIN cl dm1 ON dm1.burst = c.burst AND dm1.q = c.q AND dm1.d = c.d - 1
       |  LEFT JOIN cl dp1 ON dp1.burst = c.burst AND dp1.q = c.q AND dp1.d = c.d + 1
       |  LEFT JOIN cl dp2 ON dp2.burst = c.burst AND dp2.q = c.q AND dp2.d = c.d + 2)""".stripMargin
  }

  private def diwaspCtes(nfft: Int, dres: Int): String = {
    // 9 (m, n) pairs in the kernel's m-outer/n-inner order; h = tn*tm
    val pairs = for (m <- 0 to 2; n <- 0 to 2) yield (m, n)
    val sfre = pairs.map { case (m, n) => s"x.re$m$n*(t.t$n*t.t$m)" }.mkString(" + ")
    val sfim = pairs.map { case (m, n) => s"- x.im$m$n*(t.t$n*t.t$m)" }.mkString(" ")
    diwaspFrontCtes(nfft, dres) + ",\n" + s"""sf AS (
       |  SELECT x.burst, x.q, t.d, t.dir,
       |    $sfre AS sfre,
       |    $sfim AS sfim,
       |    (x.re00*(t.t0*t.t0))/((t.t0*t.t0)*(t.t0*t.t0)) AS ssre,
       |    (x.im00*(t.t0*t.t0))/((t.t0*t.t0)*(t.t0*t.t0)) AS ssim
       |  FROM xps x JOIN trm t ON x.q = t.q),
       |tot AS (
       |  SELECT burst, q,
       |    sum(sfre)*(2.0*pi()/$dres) AS sr, sum(sfim)*(2.0*pi()/$dres) AS si
       |  FROM sf GROUP BY burst, q),
       |ee AS (
       |  SELECT sf.burst, sf.q, sf.d, sf.dir,
       |    sf.ssre*((sf.sfre*tot.sr + (-sf.sfim)*tot.si)/(tot.sr*tot.sr + tot.si*tot.si))
       |      - sf.ssim*(((-sf.sfim)*tot.sr - sf.sfre*tot.si)/(tot.sr*tot.sr + tot.si*tot.si)) AS v
       |  FROM sf JOIN tot USING (burst, q))""".stripMargin + ",\n" + clSmgCtes(nfft, dres)
  }

  /** Per-burst Hs/Tp/Dtp/Dp stats over the smg grid — shared tail of the
    * DFTM and IMLM oracles (infospec, pyDIWASP private/infospec.py). */
  private def diwaspStatsSql(nfft: Int, dres: Int, hsRound: Int = 8): String = {
    val nfreq = { val (lo, hi) = diwaspKeepBand(nfft); hi - lo + 1 }
    s"""oneD AS (SELECT burst, q,
       |    sum(s)*((-pi() + 1*2.0*pi()/$dres) - (-pi())) AS e1
       |  FROM smg GROUP BY burst, q),
       |mm AS (SELECT burst, sum(e1)*(14.0/$nfft - 13.0/$nfft) AS m0
       |  FROM oneD GROUP BY burst),
       |ip AS (SELECT burst, first(q ORDER BY e1 DESC, q) AS qp
       |  FROM oneD GROUP BY burst),
       |jp AS (SELECT s.burst, first(s.d ORDER BY s.s DESC, s.d) AS dtpj
       |  FROM smg s JOIN ip ON s.burst = ip.burst AND s.q = ip.qp
       |  GROUP BY s.burst),
       |dirt AS (SELECT burst, d, sum(s) AS tot FROM smg GROUP BY burst, d),
       |bj AS (SELECT burst, first(d ORDER BY tot DESC, d) AS dpj
       |  FROM dirt GROUP BY burst)
       |SELECT mm.burst, round(4.0*sqrt(m0), $hsRound) AS hs,
       |  round(1.0/(qp*1.0/$nfft), 8) AS tp,
       |  round(((-pi() + dtpj*2.0*pi()/$dres)*180.0)/pi(), 8) + 0.0 AS dtp,
       |  round(((-pi() + dpj*2.0*pi()/$dres)*180.0)/pi(), 8) + 0.0 AS dp,
       |  CAST($nfreq AS INTEGER) AS nfreq, CAST($dres AS INTEGER) AS ndir
       |FROM mm JOIN ip USING (burst) JOIN jp USING (burst) JOIN bj USING (burst)""".stripMargin
  }

  /** IMLM iteration replay (pyDIWASP private/IMLM.py as re-expressed in
    * kernels/Diwasp.imlm): per (burst, freq) the estimate E(d) over 90
    * directions refines through 50 damped fixed-point steps, each needing
    * the 3x3 complex inverse of the forward-modelled cross-power matrix.
    * State lives as (burst, q, d) ROWS in a recursive CTE; the per-(m,n)
    * direction sums are window aggregates over the (burst, q) partition,
    * and the matrix inverse is a closed-form cofactor expansion inlined as
    * lateral-alias chains (the kernel uses pivoted Gauss-Jordan — a
    * different but algebraically identical op sequence; round-8 output
    * absorbs the last-ulp disagreement, same as the libm sin() policy).
    * H is exactly real here (co-located p/u/v sensors, kx = 0). */
  private def imlmCtes(dres: Int, miter: Int): String = {
    val ddir = s"(2.0*pi()/$dres)"
    val mns = for (m <- 0 to 2; n <- 0 to 2) yield s"$m$n"
    type Cx = (String, String)
    def mul(a: Cx, b: Cx): Cx =
      (s"(${a._1}*${b._1} - ${a._2}*${b._2})", s"(${a._1}*${b._2} + ${a._2}*${b._1})")
    def sub(a: Cx, b: Cx): Cx = (s"(${a._1} - ${b._1})", s"(${a._2} - ${b._2})")
    def neg(a: Cx): Cx = (s"(- ${a._1})", s"(- ${a._2})")
    // closed-form cofactor inverse of the complex 3x3 with entries
    // `<in>re_mn`/`<in>im_mn`; emits lateral-alias defs ending in
    // `<out>re_mn`/`<out>im_mn` (inverse = adj/det, adj_ij = cof_ji)
    def inv3(in: String, out: String): String = {
      def a(i: Int, j: Int): Cx = (s"${in}re$i$j", s"${in}im$i$j")
      // cofactor C_ij = (-1)^(i+j) * minor deleting row i, col j
      def cofac(i: Int, j: Int): Cx = {
        val rs = Seq(0, 1, 2).filter(_ != i)
        val cs = Seq(0, 1, 2).filter(_ != j)
        val m = sub(mul(a(rs(0), cs(0)), a(rs(1), cs(1))),
          mul(a(rs(0), cs(1)), a(rs(1), cs(0))))
        if ((i + j) % 2 == 0) m else neg(m)
      }
      val c00 = cofac(0, 0); val c01 = cofac(0, 1); val c02 = cofac(0, 2)
      // det via first-row expansion: a00*C00 + a01*C01 + a02*C02
      val detParts = Seq(mul(a(0, 0), c00), mul(a(0, 1), c01), mul(a(0, 2), c02))
      val detRe = detParts.map(_._1).mkString(" + ")
      val detIm = detParts.map(_._2).mkString(" + ")
      val cofDefs = (for (i <- 0 to 2; j <- 0 to 2) yield {
        val c = cofac(i, j)
        s"    ${c._1} AS ${out}cr$i$j, ${c._2} AS ${out}ci$i$j"
      }).mkString(",\n")
      // inv_ij = cof_ji / det
      val invDefs = (for (i <- 0 to 2; j <- 0 to 2) yield {
        s"    (${out}cr$j$i*${out}dr + ${out}ci$j$i*${out}di)/${out}dd AS ${out}re$i$j,\n" +
        s"    (${out}ci$j$i*${out}dr - ${out}cr$j$i*${out}di)/${out}dd AS ${out}im$i$j"
      }).mkString(",\n")
      s"""$cofDefs,
         |    ($detRe) AS ${out}dr,
         |    ($detIm) AS ${out}di,
         |    (${out}dr*${out}dr + ${out}di*${out}di) AS ${out}dd,
         |$invDefs""".stripMargin
    }
    // mlEstimate numerator: sf = sum_mn ic_mn * h_mn (H real)
    def sfSum(ic: String, part: String, hpfx: String): String =
      mns.map(mn => s"$ic$part$mn*$hpfx$mn").mkString(" + ")

    val ixWins = mns.map(mn =>
      s"    sum(h.h$mn*r.eRe) OVER wq AS sxr$mn, sum(h.h$mn*r.eIm) OVER wq AS sxi$mn")
      .mkString(",\n")
    val ixScaled = mns.map(mn =>
      s"    sxr$mn*$ddir AS ivinre$mn, sxi$mn*$ddir AS ivinim$mn").mkString(",\n")
    val hPass = mns.map(mn => s"h.h$mn").mkString(", ")

    s"""hq AS MATERIALIZED (
       |  SELECT q, d, dir, t0,
       |    t0*t0 AS h00, t1*t0 AS h01, t2*t0 AS h02,
       |    t0*t1 AS h10, t1*t1 AS h11, t2*t1 AS h12,
       |    t0*t2 AS h20, t1*t2 AS h21, t2*t2 AS h22
       |  FROM trm),
       |sd0 AS (
       |  SELECT burst, q,
       |${inv3("x.", "iv")}
       |  FROM xps x),
       |sd1 AS (
       |  SELECT s0.burst, s0.q, h.d,
       |    (${sfSum("s0.iv", "re", "h.h")}) AS sfre,
       |    (${sfSum("s0.iv", "im", "h.h")}) AS sfim,
       |    (sfre*sfre + sfim*sfim) AS den,
       |    sfre/den AS e0re, (- sfim)/den AS e0im
       |  FROM sd0 s0 JOIN hq h USING (q)),
       |sd2 AS (
       |  SELECT *, sum(e0re) OVER wq AS s0r, sum(e0im) OVER wq AS s0i
       |  FROM sd1 WINDOW wq AS (PARTITION BY burst, q)),
       |imlm AS (
       |  SELECT burst, q, d, 0 AS it,
       |    e0re*kr - e0im*ki AS eRe, e0re*ki + e0im*kr AS eIm,
       |    e0re*kr - e0im*ki AS tRe, e0re*ki + e0im*kr AS tIm,
       |    e0re*kr - e0im*ki AS eoRe, e0re*ki + e0im*kr AS eoIm
       |  FROM (
       |    SELECT *, s0r*$ddir AS nsr, s0i*$ddir AS nsi,
       |      (nsr*nsr + nsi*nsi) AS ndn, nsr/ndn AS kr, (- nsi)/ndn AS ki
       |    FROM sd2)
       |  UNION ALL
       |  SELECT burst, q, d, it,
       |    e1re*kr2 - e1im*ki2 AS eRe, e1re*ki2 + e1im*kr2 AS eIm,
       |    t2re, t2im, eoRe, eoIm
       |  FROM (
       |    SELECT *, ser*$ddir AS nsr2, sei*$ddir AS nsi2,
       |      (nsr2*nsr2 + nsi2*nsi2) AS ndn2,
       |      nsr2/ndn2 AS kr2, (- nsi2)/ndn2 AS ki2
       |    FROM (
       |      SELECT *, sum(e1re) OVER wq AS ser, sum(e1im) OVER wq AS sei
       |      FROM (
       |        SELECT *,
       |          t1re*kr - t1im*ki AS t2re, t1re*ki + t1im*kr AS t2im,
       |          eRe + 0.1e0*((eoRe - t2re) + 0.1e0*(t2re - tRe)) AS e1re,
       |          eIm + 0.1e0*((eoIm - t2im) + 0.1e0*(t2im - tIm)) AS e1im
       |        FROM (
       |          SELECT *, str_*$ddir AS nsr, sti_*$ddir AS nsi,
       |            (nsr*nsr + nsi*nsi) AS ndn, nsr/ndn AS kr, (- nsi)/ndn AS ki
       |          FROM (
       |            SELECT *, sum(t1re) OVER wq AS str_, sum(t1im) OVER wq AS sti_
       |            FROM (
       |              SELECT burst, q, d, it, eRe, eIm, tRe, tIm, eoRe, eoIm,
       |                h00, h01, h02, h10, h11, h12, h20, h21, h22,
       |$ixScaled,
       |${inv3("ivin", "iv")},
       |                (${sfSum("iv", "re", "h")}) AS sfre,
       |                (${sfSum("iv", "im", "h")}) AS sfim,
       |                (sfre*sfre + sfim*sfim) AS den,
       |                sfre/den AS t1re, (- sfim)/den AS t1im
       |              FROM (
       |                SELECT r.burst, r.q, r.d, r.it + 1 AS it,
       |                  r.eRe, r.eIm, r.tRe, r.tIm, r.eoRe, r.eoIm,
       |                  $hPass,
       |$ixWins
       |                FROM imlm r JOIN hq h ON h.q = r.q AND h.d = r.d
       |                WHERE r.it < $miter
       |                WINDOW wq AS (PARTITION BY r.burst, r.q)))
       |            WINDOW wq AS (PARTITION BY burst, q))))
       |      WINDOW wq AS (PARTITION BY burst, q)))),
       |efin AS (SELECT * FROM imlm WHERE it = $miter),
       |ee AS (
       |  SELECT e.burst, e.q, e.d, h.dir,
       |    ((x.re00*(h.t0*h.t0))/((h.t0*h.t0)*(h.t0*h.t0)))*e.eRe
       |      + ((x.im00*(h.t0*h.t0))/((h.t0*h.t0)*(h.t0*h.t0)))*e.eIm AS v
       |  FROM efin e JOIN hq h ON h.q = e.q AND h.d = e.d
       |  JOIN xps x ON x.burst = e.burst AND x.q = e.q)""".stripMargin
  }

  def qs: Seq[Q] = Seq(
    // Welch pressure pipeline → Hs/Tm/Tp per burst (make_waves_ds)
    Q("wave_stats_pressure",
      (s, dir) => {
        // monochromatic 8 s wave (on-bin for nfft=16) + small noise on a
        // ~10.5 m column — a physically meaningful burst, so the J&M cutoff
        // and tail logic exercise their non-degenerate paths
        val b = bursts(s, dir, 64).withColumn("pres",
          lit(10.0) + lit(0.5) * sin8Lut + dyadicNoise(5, 15))
        // user wave_fcut cutoff (make_user_cutoff path): monochromatic
        // spectra hit define_cutoff's legitimate NaN branch (noise floor ≈
        // peak), exactly as the reference would; J&M auto-cutoff is covered
        // by SpectralSpec on red spectra
        Spectra.waveStatsFromPressure(b.toDF(), "burst", "sample", "pres",
          fs = 1.0, z = 0.5, nsegs = 4, fcut = Some(0.2)).toDF()
          .select(col("burst"), round(col("h"), 8).as("h"),
            round(col("wh_4061"), 8).as("wh_4061"),
            round(col("wp_4060"), 8).as("wp_4060"),
            round(col("wp_peak"), 8).as("wp_peak"),
            round(col("m0"), 8).as("m0"), round(col("m2"), 8).as("m2"),
            col("tailind"))
      },
      Some(s"""WITH $presSpecCtes,
             |${statsSql("""
             |  round(hh.h, 8) AS h,""")}, CAST(ti.tq AS INTEGER) AS tailind
             |FROM mom JOIN hh USING (burst) JOIN pk USING (burst) JOIN ti USING (burst)""".stripMargin)),

    // surface-track variant (make_waves_ds_elev)
    Q("wave_stats_elev",
      (s, dir) => {
        // 512-sample bursts so even the sf0.001 smoke table (1000 events)
        // yields a burst; flo = 1/(512/32) = 0.0625 Hz keeps the band valid
        // dyadic amplitude 13/32 and offset 13/512 keep every sample on
        // the shared dyadic grid (see sin8DyadicVals)
        val b = burstsGlobal(s, dir, 512).withColumn("elev",
          lit(0.40625) * sin8Lut + dyadicNoise(4, 15) - lit(0.025390625))
        Spectra.waveStatsFromElevation(b.toDF(), "burst", "sample", "elev",
          fs = 1.0, nsegs = 8).toDF()
          .select(col("burst"),
            round(col("wh_4061"), 8).as("wh_4061"),
            round(col("wp_4060"), 8).as("wp_4060"),
            round(col("wp_peak"), 8).as("wp_peak"),
            round(col("m0"), 8).as("m0"), round(col("m2"), 8).as("m2"))
      },
      Some(s"""WITH $elevSpecCtes,
             |${statsSql("")}
             |FROM mom JOIN pk USING (burst)""".stripMargin)),

    // per-burst elevation spectra, long format (spec["pspec"])
    Q("wave_spectra",
      (s, dir) => {
        val b = bursts(s, dir, 64).withColumn("pres",
          lit(10.0) + lit(0.5) * sin8Lut + dyadicNoise(5, 15))
        Spectra.pressureSpectra(b.toDF(), "burst", "sample", "pres",
          fs = 1.0, z = 0.5, nsegs = 4, fcut = Some(0.2)).toDF()
          .select(col("burst"), col("frequency"),
            round(col("pspec"), 8).as("pspec"))
      },
      Some(s"""WITH $presSpecCtes
             |SELECT burst, f AS frequency, round(pspec, 8) AS pspec FROM spec""".stripMargin)),

    // PUV analysis per burst (puv_quick, stglib/core/waves.py:1354-1674):
    // monochromatic wave in p/u/v with linear-theory-consistent amplitudes
    Q("puv_stats",
      (s, dir) => {
        val b = burstsGlobal(s, dir, 512)
        // exact-LUT fixture (see lutCol): sample phase has period 10 at
        // f0 = 0.1, so both engines index the same 10 decimal literals
        val i10 = col("sample") % 10
        val withPuv = b
          .withColumn("p", lit(10.0) + lutCol(psLutP, i10) + col("value") / 5000.0)
          .withColumn("u", lutCol(psLutU, i10) + col("value") / 10000.0)
          .withColumn("v", lutCol(psLutV, i10) + col("value") / 10000.0)
        val r = Spectra.puvStats(withPuv.toDF(), "burst", "sample", "p", "u", "v",
          depth = 10.0, zp = 0.5, zuv = 1.0, fs = 1.0, fftLength = 512).toDF()
        r.select(col("burst") +: r.columns.filter(_ != "burst")
          .map(c => round(col(c), 8).as(c)): _*)
      },
      Some(puvSql)),

    // DIWASP directional spectrum per burst (DFTM + IMLM paths)
    Q("diwasp_dftm",
      (s, dir) => {
        val b = puvBursts(s, dir)
        Spectra.diwaspStats(b, "burst", "sample", "p", "u", "v",
          depth = 10.0, zp = 0.5, zuv = 1.0, fs = 1.0,
          nfft = 256, dres = 90, method = "DFTM", miter = 0,
          fmin = 0.05, fmax = 0.45).toDF()
          .select(col("burst"), round(col("hs"), 8).as("hs"),
            round(col("tp"), 8).as("tp"), round(col("dtp"), 8).as("dtp"),
            round(col("dp"), 8).as("dp"), col("nfreq"), col("ndir"))
      },
      Some(s"""WITH RECURSIVE ${diwaspCtes(256, 90)},
             |${diwaspStatsSql(256, 90)}""".stripMargin)),

    Q("diwasp_imlm",
      (s, dir) => {
        val b = puvBursts(s, dir)
        // nfft = 128 -> 4 Welch segments, so the 3x3 cross-spectral
        // matrix is FULL RANK: with only 2 segments it is rank-2 singular
        // and the IMLM inverse amplifies last-ulp noise by ~1e15, making
        // any cross-engine comparison meaningless
        Spectra.diwaspStats(b, "burst", "sample", "p", "u", "v",
          depth = 10.0, zp = 0.5, zuv = 1.0, fs = 1.0,
          nfft = 128, dres = 90, method = "IMLM", miter = 5,
          fmin = 0.05, fmax = 0.45).toDF()
          // hs rounds to 3 decimals (mm-level on ~2 m waves): the damped
          // IMLM fixed point amplifies last-ulp inverse differences ~30x
          // per iteration at the spectral peak, so at miter=5 the engines
          // agree to ~7e-6 -- exact at round-3 with 70x margin (tp/dtp/dp
          // are grid argmaxes and match at round-8)
          .select(col("burst"), round(col("hs"), 3).as("hs"),
            round(col("tp"), 8).as("tp"), round(col("dtp"), 8).as("dtp"),
            round(col("dp"), 8).as("dp"), col("nfreq"), col("ndir"))
      },
      Some(s"""WITH RECURSIVE ${diwaspFrontCtes(128, 90)},
             |${imlmCtes(90, 5)},
             |${clSmgCtes(128, 90)},
             |${diwaspStatsSql(128, 90, hsRound = 3)}""".stripMargin)),

    // full reference pipeline variant: estimator → interpspec onto the user
    // SM grid (flo..fhi step, dres dirs) → smoothspec → infospec
    // (pyDIWASP dirspec.py:162-168, stglib/core/waves.py:15-260 grid config)
    Q("diwasp_interp",
      (s, dir) => {
        val b = puvBursts(s, dir)
        val fUser = Array.tabulate(41)(i => 0.05 + i * 0.01)
        val dUser = Array.tabulate(72)(j => -math.Pi + j * 2.0 * math.Pi / 72)
        Spectra.diwaspStats(b, "burst", "sample", "p", "u", "v",
          depth = 10.0, zp = 0.5, zuv = 1.0, fs = 1.0,
          nfft = 256, dres = 90, method = "DFTM", miter = 0,
          fmin = 0.05, fmax = 0.45, smooth = true,
          interpTo = Some((fUser, dUser))).toDF()
          .select(col("burst"), round(col("hs"), 8).as("hs"),
            round(col("tp"), 8).as("tp"), round(col("dtp"), 8).as("dtp"),
            round(col("dp"), 8).as("dp"), col("nfreq"), col("ndir"))
      },
      // interpSpec (separable bilinear, circular dirs, 0 outside the f
      // range) onto the 41x72 user grid, then smoothspec + infospec there.
      // All user-grid arithmetic is CAST AS DOUBLE: 0.05/0.01 are not
      // dyadic, and DuckDB DECIMAL*DECIMAL is exact decimal arithmetic —
      // a different number than the kernel's double 0.05 + i*0.01.
      Some(s"""WITH RECURSIVE ${diwaspCtes(256, 90)},
             |fu AS (SELECT i, CAST(0.05 AS DOUBLE) + i*CAST(0.01 AS DOUBLE) AS fq
             |  FROM (SELECT unnest(generate_series(0, 40)) AS i)),
             |du AS (SELECT j, -pi() + j*2.0*pi()/72 AS dq
             |  FROM (SELECT unnest(generate_series(0, 71)) AS j)),
             |kgrid AS (SELECT q, q*CAST(1.0 AS DOUBLE)/256 AS f FROM qg),
             |fins AS (
             |  SELECT fu.i, fu.fq,
             |    count(kg.q) FILTER (WHERE kg.f < fu.fq) AS ins,
             |    max(kg.q) FILTER (WHERE kg.f = fu.fq) AS eq
             |  FROM fu, kgrid kg GROUP BY fu.i, fu.fq),
             |fbw AS (
             |  SELECT i, fq,
             |    CASE WHEN eq IS NOT NULL THEN eq
             |         ELSE 13 + greatest(ins - 1, 0) END AS ql,
             |    CASE WHEN eq IS NOT NULL THEN eq
             |         ELSE 13 + least(ins, 102) END AS qh
             |  FROM fins),
             |fbr AS (
             |  SELECT i, fq, ql, qh,
             |    CASE WHEN qh = ql THEN 0.0
             |         ELSE (fq - ql*CAST(1.0 AS DOUBLE)/256)
             |              / (qh*CAST(1.0 AS DOUBLE)/256 - ql*CAST(1.0 AS DOUBLE)/256) END AS wf
             |  FROM fbw),
             |dw AS (SELECT j, dq,
             |    (dq - (-pi())) / ((-pi() + 1*2.0*pi()/90) - (-pi())) AS x0 FROM du),
             |dbr AS (SELECT j, dq,
             |    CAST(floor(x) AS INTEGER) % 90 AS j0,
             |    (CAST(floor(x) AS INTEGER) % 90 + 1) % 90 AS j1,
             |    x - floor(x) AS wd
             |  FROM (SELECT j, dq, x0 - floor(x0/90)*90 AS x FROM dw)),
             |grid AS (
             |  SELECT b.burst, fb.i, fb.fq, fb.ql, fb.qh, fb.wf,
             |    db.j, db.j0, db.j1, db.wd
             |  FROM (SELECT DISTINCT burst FROM cl) b
             |  CROSS JOIN fbr fb CROSS JOIN dbr db),
             |itp AS MATERIALIZED (
             |  SELECT g.burst, g.i, g.j,
             |    CASE WHEN g.fq < 13*CAST(1.0 AS DOUBLE)/256
             |           OR g.fq > 115*CAST(1.0 AS DOUBLE)/256 THEN 0.0
             |    ELSE (lo0.v*(1 - g.wd) + lo1.v*g.wd)*(1 - g.wf)
             |       + (hi0.v*(1 - g.wd) + hi1.v*g.wd)*g.wf END AS v
             |  FROM grid g
             |  LEFT JOIN cl lo0 ON lo0.burst = g.burst AND lo0.q = g.ql AND lo0.d = g.j0
             |  LEFT JOIN cl lo1 ON lo1.burst = g.burst AND lo1.q = g.ql AND lo1.d = g.j1
             |  LEFT JOIN cl hi0 ON hi0.burst = g.burst AND hi0.q = g.qh AND hi0.d = g.j0
             |  LEFT JOIN cl hi1 ON hi1.burst = g.burst AND hi1.q = g.qh AND hi1.d = g.j1),
             |smu AS MATERIALIZED (
             |  SELECT c.burst, c.i, c.j,
             |    CASE WHEN c.i BETWEEN 2 AND 38 AND c.j BETWEEN 2 AND 69 THEN
             |      (0.25*fm2.v + 0.5*fm1.v + 1.0*c.v + 0.5*fp1.v + 0.25*fp2.v
             |       + 0.25*dm2.v + 0.5*dm1.v + 1.0*c.v + 0.5*dp1.v + 0.25*dp2.v) / 5.0
             |    ELSE c.v END AS s
             |  FROM itp c
             |  LEFT JOIN itp fm2 ON fm2.burst = c.burst AND fm2.i = c.i - 2 AND fm2.j = c.j
             |  LEFT JOIN itp fm1 ON fm1.burst = c.burst AND fm1.i = c.i - 1 AND fm1.j = c.j
             |  LEFT JOIN itp fp1 ON fp1.burst = c.burst AND fp1.i = c.i + 1 AND fp1.j = c.j
             |  LEFT JOIN itp fp2 ON fp2.burst = c.burst AND fp2.i = c.i + 2 AND fp2.j = c.j
             |  LEFT JOIN itp dm2 ON dm2.burst = c.burst AND dm2.i = c.i AND dm2.j = c.j - 2
             |  LEFT JOIN itp dm1 ON dm1.burst = c.burst AND dm1.i = c.i AND dm1.j = c.j - 1
             |  LEFT JOIN itp dp1 ON dp1.burst = c.burst AND dp1.i = c.i AND dp1.j = c.j + 1
             |  LEFT JOIN itp dp2 ON dp2.burst = c.burst AND dp2.i = c.i AND dp2.j = c.j + 2),
             |oneD AS (SELECT burst, i,
             |    sum(s)*((-pi() + 1*2.0*pi()/72) - (-pi())) AS e1
             |  FROM smu GROUP BY burst, i),
             |mm AS (SELECT burst, sum(e1)*((CAST(0.05 AS DOUBLE) + 1*CAST(0.01 AS DOUBLE))
             |    - (CAST(0.05 AS DOUBLE) + 0*CAST(0.01 AS DOUBLE))) AS m0
             |  FROM oneD GROUP BY burst),
             |ip AS (SELECT burst, first(i ORDER BY e1 DESC, i) AS ipk
             |  FROM oneD GROUP BY burst),
             |jp AS (SELECT s.burst, first(s.j ORDER BY s.s DESC, s.j) AS dtpj
             |  FROM smu s JOIN ip ON s.burst = ip.burst AND s.i = ip.ipk
             |  GROUP BY s.burst),
             |dirt AS (SELECT burst, j, sum(s) AS tot FROM smu GROUP BY burst, j),
             |bj AS (SELECT burst, first(j ORDER BY tot DESC, j) AS dpj
             |  FROM dirt GROUP BY burst)
             |SELECT mm.burst, round(4.0*sqrt(m0), 8) AS hs,
             |  round(1.0/(CAST(0.05 AS DOUBLE) + ipk*CAST(0.01 AS DOUBLE)), 8) AS tp,
             |  round(((-pi() + dtpj*2.0*pi()/72)*180.0)/pi(), 8) + 0.0 AS dtp,
             |  round(((-pi() + dpj*2.0*pi()/72)*180.0)/pi(), 8) + 0.0 AS dp,
             |  CAST(41 AS INTEGER) AS nfreq, CAST(72 AS INTEGER) AS ndir
             |FROM mm JOIN ip USING (burst) JOIN jp USING (burst) JOIN bj USING (burst)""".stripMargin)),

    // full directional spectrum S(freq, dir) per burst — the reference's
    // `dspec` output grid (stglib/core/waves.py:185-192), long-format
    Q("diwasp_dspec",
      (s, dir) => {
        val b = puvBursts(s, dir)
        Spectra.diwaspSpectrumWithStats(b, "burst", "sample", "p", "u", "v",
          depth = 10.0, zp = 0.5, zuv = 1.0, fs = 1.0,
          nfft = 128, dres = 36, method = "DFTM", miter = 0,
          fmin = 0.05, fmax = 0.45).toDF()
          .select(col("burst"), col("freq"), col("dir"),
            round(col("s"), 8).as("s"))
      },
      Some(s"""WITH RECURSIVE ${diwaspCtes(128, 36)}
             |SELECT burst, q * 1.0 / 128 AS freq, dir, round(s, 8) + 0.0 AS s
             |FROM smg""".stripMargin)),

    // zero-phase Butterworth low-pass per user series (filtered water level,
    // stglib/core/utils.py:1715-1756)
    butterQ)

  /** Exact DuckDB replay of the segmented zero-phase Butterworth filter:
    * the overlap-save segmentation (segLen 4096, margin from the pole
    * radius), odd-reflection padding, and the two direct-form-II-transposed
    * cascade passes are reproduced operation-for-operation as recursive
    * CTEs (one row per segment per sample step — all segments advance in
    * lockstep; materialized CTEs keep each iteration O(1)). SOS
    * coefficients and derived init-state constants are embedded as
    * %.17e literals from the live [[Butterworth.lowpass]] design, so the
    * oracle tracks the kernel. Lateral aliases are deliberately named
    * ny1/nz1a etc. — unqualified names colliding with the CTE's declared
    * columns would bind to the PREVIOUS row's values in the recursive term.
    *
    * Precondition: the series must be longer than the reflection pad
    * (3·2·nsections = 12 samples) — the kernel shortens padlen for shorter
    * inputs (padlen = min(12, n-1)) but the SQL replay fixes it at 12, so
    * a ≤12-sample series would find no j=0 seed row and return 0 rows.
    * Every segment slice here is ≥ margin+1 = 312 samples whenever the
    * table has > 12 rows, so the registered 10k-row query is far inside
    * the precondition. */
  private lazy val butterOracle: String = {
    val sos = Butterworth.lowpass(4, 0.05, 1.0)
    val mar = Butterworth.marginFor(sos)
    val seg = 4096
    val pad = 3 * 2 * sos.length
    def f(d: Double) = "%.17e".format(d)
    val Array(sA, sB) = sos
    val gA = (sA.b0 + sA.b1 + sA.b2) / (1.0 + sA.a1 + sA.a2)
    val gB = (sB.b0 + sB.b1 + sB.b2) / (1.0 + sB.a1 + sB.a2)
    val (b0a, b1a, b2a, a1a, a2a) = (f(sA.b0), f(sA.b1), f(sA.b2), f(sA.a1), f(sA.a2))
    val (b0b, b1b, b2b, a1b, a2b) = (f(sB.b0), f(sB.b1), f(sB.b2), f(sB.a1), f(sB.a2))
    val g1 = f(gA)
    val (c1a, c2a) = (f(sA.b1 - sA.a1 * gA), f(sA.b2 - sA.a2 * gA))
    val (c1b, c2b) = (f(sB.b1 - sB.a1 * gB), f(sB.b2 - sB.a2 * gB))

    // init state from x0, then process step 0 (x = x0)
    def seedSel(x0sel: String): String =
      s"""  SELECT s, len, 0 AS j,
         |    $b0a*x + (x*$c1a + x*$c2a) AS ny1,
         |    $b0b*ny1 + ((x*$g1)*$c1b + (x*$g1)*$c2b) AS ny2,
         |    $b1a*x - $a1a*ny1 + (x*$c2a) AS nz1a,
         |    $b2a*x - $a2a*ny1 AS nz2a,
         |    $b1b*ny1 - $a1b*ny2 + ((x*$g1)*$c2b) AS nz1b,
         |    $b2b*ny1 - $a2b*ny2 AS nz2b
         |  FROM ($x0sel)""".stripMargin

    def stepSel(cte: String, xjoin: String): String =
      s"""  SELECT r.s, r.len, r.j + 1 AS j,
         |    $b0a*xx.x + r.z1a AS ny1,
         |    $b0b*ny1 + r.z1b AS ny2,
         |    $b1a*xx.x - $a1a*ny1 + r.z2a AS nz1a,
         |    $b2a*xx.x - $a2a*ny1 AS nz2a,
         |    $b1b*ny1 - $a1b*ny2 + r.z2b AS nz1b,
         |    $b2b*ny1 - $a2b*ny2 AS nz2b
         |  FROM $cte r JOIN ($xjoin) xx ON xx.s = r.s AND xx.j = r.j + 1""".stripMargin

    s"""WITH RECURSIVE base AS MATERIALIZED (
       |  SELECT row_number() OVER (ORDER BY event_id) - 1 AS pos,
       |         10.0e0 + 0.5e0 * sin(event_id * 1.23e-2) + "value" / 500.0e0 AS v
       |  FROM events),
       |nn AS (SELECT count(*) AS n FROM base),
       |sl AS MATERIALIZED (
       |  SELECT s, greatest(0, s * $seg - $mar) AS lo, least(n, (s + 1) * $seg + $mar) AS hi
       |  FROM (SELECT unnest(generate_series(0, (n - 1) // $seg)) AS s, n FROM nn)),
       |xs AS MATERIALIZED (
       |  SELECT sl.s, sl.lo, sl.hi - sl.lo AS len, b.pos - sl.lo AS i, b.v
       |  FROM base b JOIN sl ON b.pos >= sl.lo AND b.pos < sl.hi),
       |ext AS MATERIALIZED (
       |  SELECT s, len, i + $pad AS j, v AS x FROM xs
       |  UNION ALL
       |  SELECT p.s, p.len, $pad - p.i AS j, 2.0e0 * x0.v - p.v AS x
       |  FROM xs p JOIN (SELECT s, v FROM xs WHERE i = 0) x0 USING (s)
       |  WHERE p.i BETWEEN 1 AND $pad
       |  UNION ALL
       |  SELECT p.s, p.len, $pad + 2*p.len - 2 - p.i AS j, 2.0e0 * xl.v - p.v AS x
       |  FROM xs p JOIN (SELECT s, v FROM xs WHERE i = len - 1) xl USING (s)
       |  WHERE p.i BETWEEN p.len - ${pad + 1} AND p.len - 2),
       |fwd(s, len, j, y1, y2, z1a, z2a, z1b, z2b) AS (
       |${seedSel(s"SELECT s, len, x FROM ext WHERE j = 0")}
       |  UNION ALL
       |${stepSel("fwd", "SELECT s, j, x FROM ext")}),
       |fwdm AS MATERIALIZED (SELECT s, len, j, y2 FROM fwd),
       |bwd(s, len, j, y1, y2, z1a, z2a, z1b, z2b) AS (
       |${seedSel(s"SELECT s, len, y2 AS x FROM fwdm WHERE j = len + ${2 * pad - 1}")}
       |  UNION ALL
       |${stepSel("bwd", s"SELECT s, len + ${2 * pad - 1} - j AS j, y2 AS x FROM fwdm")})
       |SELECT x.s AS series, x.lo + x.i AS sample,
       |       round(b.y2, 8) AS value_filt
       |FROM xs x JOIN bwd b ON b.s = x.s AND b.j = $pad + x.len - 1 - x.i
       |WHERE x.lo + x.i >= x.s * $seg AND x.lo + x.i < (x.s + 1) * $seg""".stripMargin
  }

  private lazy val butterQ: Q =
    Q("butter_lowpass",
      (s, dir) => {
        // filter a smooth pressure-like series (tide + wave + small noise)
        // over the WHOLE series in global event_id order — distributed
        // overlap-save segmentation, no single task holds the series
        // (filtered water level, stglib/core/utils.py:1715-1756). Input is
        // derived from event_id (exact in both engines); round-8 output
        // absorbs libm sin() ulp differences.
        val dfp = events(s, dir).withColumn("pres",
          lit(10.0) + lit(0.5) * sin(col("event_id") * lit(0.0123)) +
            col("value") / 500.0)
        Spectra.filtfiltWholeSeries(dfp, Seq("event_id"), "pres",
          Butterworth.lowpass(4, 0.05, 1.0), segLen = 4096).toDF()
          .select(col("series"), col("sample"),
            round(col("value_filt"), 8).as("value_filt"))
      }, Some(butterOracle),
      note = "exact: segmented sosfiltfilt replayed in SQL as recursive CTEs")
}
