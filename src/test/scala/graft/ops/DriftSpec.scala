package graft.ops

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Drift statistics vs an independent from-definition referee, plus the
  * semantic guarantees: a planted location shift must move KS/PSI far off
  * zero while identical distributions stay near zero (PSI exactly 0.0 —
  * every smoothed term cancels). */
class DriftSpec extends AnyFunSuite with SharedSpark {
  private val B = 64

  /** From-definition referee over (group, value, isA) rows — same cents
    * binning, integer KS numerator, smoothed-PSI sum in plain doubles. */
  private def referee(rows: Seq[(String, Double, Boolean)]): Map[String, (Long, Double)] = {
    val cents = rows.map { case (g, v, a) => (g, math.round(v * 100), a) }
    val mn = cents.map(_._2).min
    val span = cents.map(_._2).max - mn + 1
    cents.groupBy(_._1).map { case (g, rs) =>
      val byBin = rs.groupBy(r => (r._2 - mn) * B / span)
      val ca = byBin.map { case (b, xs) => b -> xs.count(_._3).toLong }
      val cb = byBin.map { case (b, xs) => b -> xs.count(!_._3).toLong }
      val na = ca.values.sum; val nb = cb.values.sum
      var cuma = 0L; var cumb = 0L; var ksNum = 0L
      for (b <- byBin.keys.toSeq.sorted) {
        cuma += ca.getOrElse(b, 0L); cumb += cb.getOrElse(b, 0L)
        ksNum = math.max(ksNum, math.abs(cuma * nb - cumb * na))
      }
      val psi = (0 until B).map { b =>
        val p = (ca.getOrElse(b.toLong, 0L) + 1).toDouble / (na + B)
        val q = (cb.getOrElse(b.toLong, 0L) + 1).toDouble / (nb + B)
        math.round((p - q) * math.log(p / q) * 1e9) / 1e9
      }.sum
      g -> (ksNum, psi)
    }
  }

  private def mkDf(rows: Seq[(String, Double, Boolean)]) = {
    import spark.implicits._
    rows.toDF("g", "value", "is_a")
  }

  test("KS numerator and PSI match the referee on random two-sided data") {
    val rnd = new scala.util.Random(3)
    for (trial <- 1 to 3) {
      val rows = (1 to 400).map { _ =>
        val g = s"t${rnd.nextInt(3)}"
        val a = rnd.nextBoolean()
        // plant drift in group t0: side B shifted by +2.0
        val v = math.round((rnd.nextDouble() * 5 +
          (if (g == "t0" && !a) 2.0 else 0.0)) * 100) / 100.0
        (g, v, a)
      }
      val want = referee(rows)
      val df = mkDf(rows)
      val ks = Drift.binnedKs(df, "g", "value", col("is_a"), !col("is_a"), B)
        .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
      val psi = Drift.psi(df, "g", "value", col("is_a"), !col("is_a"), B)
        .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
      for ((g, (ksNum, psiRef)) <- want) {
        assert(ks(g) == ksNum, s"trial $trial group $g ks")
        assert(math.abs(psi(g) - psiRef) < 1e-7, s"trial $trial group $g psi")
      }
      // the planted shift must register as real drift
      assert(want("t0")._2 > 0.25, "planted shift should exceed the PSI alarm bar")
    }
  }

  test("CUSUM: planted level shift alarms, stationary series does not") {
    import spark.implicits._
    val dayNs = 86400000000000L
    // type "shift": 10 events/day for days 0..19, 30/day for days 20..29
    // (sustained +20 over mean 15 ⇒ S+ grows 15·nd/day after the shift);
    // type "flat": constant 12/day — S+ = S- = 0 everywhere
    val rows =
      (0 until 30).flatMap { d =>
        val n = if (d < 20) 10 else 30
        (0 until n).map(i => ("shift", d * dayNs + i))
      } ++ (0 until 30).flatMap { d =>
        (0 until 12).map(i => ("flat", d * dayNs + i))
      }
    val got = Drift.cusumDaily(rows.toDF("event_type", "ts"), "event_type", "ts")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(3), r.getLong(4), r.getInt(5))).toMap
    // referee for the shifted series: total = 20·10 + 10·30 = 500, nd = 30;
    // dev_t = 30·x_t − 500
    var sp = 0L; var sn = 0L
    for (d <- 0L until 30L) {
      val x = if (d < 20) 10L else 30L
      sp = math.max(0L, sp + (30L * x - 500L)); sn = math.max(0L, sn - (30L * x - 500L))
      val (gsp, gsn, _) = got(("shift", d))
      assert(gsp == sp && gsn == sn, s"day $d")
    }
    assert(got(("shift", 29L))._3 == 1, "sustained shift must alarm")
    assert((0L until 30L).forall(d => got(("flat", d)) == ((0L, 0L, 0))),
      "stationary series must stay at zero")
  }

  test("seasonal decomposition reconstructs counts and recovers a planted weekly pattern") {
    import spark.implicits._
    val dayNs = 86400000000000L
    // 35 days, weekday effect +0..+6 events on a base of 20
    val rows = (0 until 35).flatMap { d =>
      (0 until (20 + d % 7)).map(i => ("t", d * dayNs + i))
    }
    val got = Drift.seasonalDecompose(rows.toDF("event_type", "ts"),
        "event_type", "ts")
      .collect().map(r => r.getLong(1) ->
        ((r.getLong(2), Option(r.get(3)), Option(r.get(4)), Option(r.get(5)))))
      .toMap
    assert(got.size == 35)
    for ((d, (cnt, tr, se, re)) <- got) {
      if (d < 3 || d > 31) assert(tr.isEmpty && se.isEmpty && re.isEmpty, s"edge $d")
      else {
        val sum = tr.get.asInstanceOf[Double] + se.get.asInstanceOf[Double] +
          re.get.asInstanceOf[Double]
        assert(math.abs(sum - cnt) < 1e-7, s"day $d reconstruct")
        // constant weekly pattern on a flat base: trend = mean 23, residual 0
        assert(math.abs(tr.get.asInstanceOf[Double] - 23.0) < 1e-9, s"day $d trend")
        assert(math.abs(re.get.asInstanceOf[Double]) < 1e-7, s"day $d residual")
        // seasonal = weekday effect centered on the mean: (d%7) - 3
        assert(math.abs(se.get.asInstanceOf[Double] - ((d % 7) - 3.0)) < 1e-7,
          s"day $d seasonal")
      }
    }
  }

  test("bootstrap CI: SE shrinks ~1/sqrt(n) and brackets the true mean") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    def mk(g: String, n: Int) = (0 until n).map(i =>
      (g, i.toLong, math.round((50 + rnd.nextGaussian() * 10) * 100) / 100.0))
    val df = (mk("small", 200) ++ mk("big", 3200)).toDF("g", "id", "value")
    val got = Drift.bootstrapMeanCi(df, "g", "id", "value")
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    for ((g, (mean, se, lo, hi)) <- got) {
      assert(se > 0 && lo < mean && mean < hi, s"$g interval shape")
      // sigma=10: SE ≈ 10/sqrt(n); allow generous slack for 32 replicates
      val n = if (g == "small") 200 else 3200
      val expect = 10.0 / math.sqrt(n.toDouble)
      assert(se > expect / 3 && se < expect * 3, s"$g se=$se expect≈$expect")
      assert(lo < 50.0 + 3 * expect && hi > 50.0 - 3 * expect, s"$g coverage")
    }
    // 16x the data → ~4x smaller SE
    assert(got("small")._2 > 2.0 * got("big")._2, "SE must shrink with n")
  }

  test("conformal interval: ~90% coverage on linear data with noise") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    val rows = (0L until 2000L).map { i =>
      val x = 10 + rnd.nextInt(90)
      (i, x.toLong, math.round(5.0 + 3.0 * x + rnd.nextGaussian() * 8))
    }
    val df = rows.toDF("id", "x", "y")
    val r = Drift.conformalInterval(df, "x", "y",
      col("id") % 4 === 0, col("id") % 4 === 1, col("id") % 4 === 2).head()
    val (slope, q, cov) = (r.getDouble(3), r.getDouble(5), r.getDouble(6))
    assert(math.abs(slope - 3.0) < 0.1, s"slope $slope")
    // sigma=8 ⇒ q ≈ 1.64·8 ≈ 13 for the 90% |residual| quantile
    assert(q > 8 && q < 20, s"q $q")
    assert(cov > 0.85 && cov < 0.97, s"coverage $cov")
    Spread.release(spark)
  }

  test("Kaplan-Meier matches an exact product referee incl. the all-churn tail") {
    import spark.implicits._
    val dayNs = 86400000000000L
    // users: lifetimes 0,0,2,2,5 churned (last < window end), plus two
    // censored at the end (first=8, last=10 → lifetime 2 censored;
    // first=10,last=10 → 0 censored); window end = day 10
    val spans = Seq((1L, 0L, 0L), (2L, 1L, 1L), (3L, 0L, 2L), (4L, 3L, 5L),
      (5L, 2L, 7L), (6L, 8L, 10L), (7L, 10L, 10L))
    val rows = spans.flatMap { case (u, f, l) =>
      Seq((u, f * dayNs), (u, l * dayNs)) }
    val got = Drift.kaplanMeier(rows.toDF("user_id", "ts"), "user_id", "ts")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // referee: lifetimes churn {0,0,2,2,5}, censored {2 (u6), 0 (u7)}
    // t=0: risk 7, churn 2, cens 1 → S = 5/7
    // t=2: risk 4, churn 2, cens 1 → S = 5/7 · 2/4
    // t=5: risk 1, churn 1, cens 0 → S = 0 (n_risk = d step)
    assert(got(0L) == ((7L, 2L, 1L, math.round(5.0 / 7 * 1e9) / 1e9)) ||
      (got(0L)._1 == 7L && got(0L)._2 == 2L && got(0L)._3 == 1L &&
        math.abs(got(0L)._4 - 5.0 / 7) < 1e-8))
    assert(got(2L)._1 == 4L && got(2L)._2 == 2L && got(2L)._3 == 1L &&
      math.abs(got(2L)._4 - 5.0 / 7 * 0.5) < 1e-8)
    assert(got(5L) == ((1L, 1L, 0L, 0.0)), "all-at-risk churn must pin S to 0")
  }

  test("Holt forecast locks onto a linear trend and extrapolates it") {
    import spark.implicits._
    val dayNs = 86400000000000L
    // counts 10, 13, 16, … (slope 3) over 30 days
    val rows = (0 until 30).flatMap { d =>
      (0 until (10 + 3 * d)).map(i => ("t", d * dayNs + i))
    }
    val got = Drift.holtForecast(rows.toDF("event_type", "ts"), "event_type", "ts")
      .collect().map(r => r.getLong(1) ->
        ((Option(r.get(2)), Option(r.get(4)), Option(r.get(5)), Option(r.get(6)))))
      .toMap
    assert(got.size == 37, "30 observed + 7 horizon rows")
    // late in the series the filter must have locked on: trend → 3,
    // one-step forecast within 1 of the actual count
    for (d <- 20L to 29L) {
      val (cnt, tr, fc, err) = got(d)
      assert(math.abs(tr.get.asInstanceOf[Double] - 3.0) < 0.3, s"day $d trend $tr")
      assert(err.get.asInstanceOf[Double] < 1.5, s"day $d err $err")
      assert(cnt.isDefined && fc.isDefined)
    }
    // horizon rows extrapolate the line: day 29+h ≈ 10 + 3·(29+h)
    for (h <- 1L to 7L) {
      val (cnt, _, fc, err) = got(29L + h)
      assert(cnt.isEmpty && err.isEmpty, s"horizon $h shape")
      val want = 10.0 + 3.0 * (29 + h)
      assert(math.abs(fc.get.asInstanceOf[Double] - want) < 3.0,
        s"horizon $h forecast ${fc.get} vs $want")
    }
  }

  test("identical sides: KS numerator 0 and PSI exactly 0.0") {
    val rows = (1 to 100).flatMap { i =>
      val v = (i % 17) * 0.37
      Seq(("g", math.round(v * 100) / 100.0, true),
          ("g", math.round(v * 100) / 100.0, false))
    }
    val df = mkDf(rows)
    assert(Drift.binnedKs(df, "g", "value", col("is_a"), !col("is_a"), B)
      .head().getLong(3) == 0L)
    assert(Drift.psi(df, "g", "value", col("is_a"), !col("is_a"), B)
      .head().getDouble(3) == 0.0)
  }
}
