package graft.ops

import graft.SharedSpark
import graft.core.Meta
import graft.kernels.Butterworth
import org.scalatest.funsuite.AnyFunSuite

/** Config-keyed signal filters in the qaqc orchestrator — the reference's
  * call_qaqc runs filter.apply_butter_filt and filter.apply_med_filt
  * BEFORE every trim (stglib/core/qaqc.py:19-20, filter.py:98-230):
  * `{var}_lowpass_filt` (a period in seconds; cutfreq = 1/period, ford 4,
  * sr from sample_rate or 1/sample_interval) and `{var}_med_filt`
  * (odd-kernel zero-padded median smoother). Both keep the pre-filter
  * values in `{var}_unfiltered`. */
class QaqcFilterSpec extends AnyFunSuite with SharedSpark {
  private def series(n: Int): Seq[(Long, Double)] =
    (0 until n).map(i => (i.toLong,
      math.sin(2 * math.Pi * 0.01 * i) + 0.5 * math.sin(2 * math.Pi * 0.4 * i)))

  test("{var}_lowpass_filt runs filtfilt over the whole series") {
    import spark.implicits._
    val rows = series(512)
    val df = rows.toDF("t", "P_1")
    val meta = Meta(Map[String, Any](
      "sample_interval" -> 1.0, "P_1_lowpass_filt" -> 10.0))
    val out = Qaqc.applyAll(df, meta, Seq("P_1"), order = Seq("t"), part = Nil)
      .orderBy("t").collect()
    // driver-side referee: the same SOS chain over the collected series
    val sos = Butterworth.lowpass(4, 1.0 / 10.0, 1.0)
    val want = Butterworth.filtfilt(sos, rows.map(_._2).toArray)
    assert(out.length == 512)
    for (i <- 0 until 512) {
      assert(math.abs(out(i).getAs[Double]("P_1") - want(i)) < 1e-9, s"row $i")
      // pre-filter copy preserved
      assert(out(i).getAs[Double]("P_1_unfiltered") == rows(i)._2)
    }
    // the 0.4 Hz component (period 2.5 s < the 10 s cutoff) is attenuated
    val rms = math.sqrt(out.map(r => math.pow(r.getAs[Double]("P_1") -
      math.sin(2 * math.Pi * 0.01 * r.getAs[Long]("t")), 2)).sum / 512)
    assert(rms < 0.1, s"high-frequency energy survived: rms $rms")
  }

  test("whole-series filter across segments == segmented kernel, shuffled input") {
    // 150,000 rows span three 65,536-row segments, so the distributed
    // margin duplication and the join-back meet two segment boundaries
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val n = 150000
    val x = Array.tabulate(n)(i =>
      10.0 + 0.5 * math.sin(2 * math.Pi * 0.002 * i) +
        0.2 * math.sin(2 * math.Pi * 0.11 * i) +
        ((i * 2654435761L % 1000) - 500) / 5000.0)
    val df = new scala.util.Random(17).shuffle((0 until n).toVector)
      .map(i => (i.toLong, x(i))).toDF("t", "P_1")
      .withColumn("other", col("t") % 7)
    val sos = Butterworth.lowpass(4, 1.0 / 10.0, 1.0)
    val out = Spectra.filterColumnWholeSeries(df, Seq("t"), "P_1", sos)
    assert(out.columns.toSet == Set("t", "P_1", "other"))
    val rows = out.orderBy("t").collect()
    assert(rows.length == n)
    assert(rows.indices.forall(i => rows(i).getAs[Long]("t") == i &&
      rows(i).getAs[Long]("other") == i % 7))
    val got = rows.map(_.getAs[Double]("P_1"))
    // same grid, same margins, same kernel => same bits
    val seg = Butterworth.filtfiltSegmented(sos, x, 65536)
    (0 until n).foreach(i => assert(got(i) == seg(i), s"row $i"))
    val single = Butterworth.filtfilt(sos, x)
    val maxDiff = (0 until n).map(i => math.abs(got(i) - single(i))).max
    assert(maxDiff < 1e-12, s"max segment-boundary error $maxDiff")
  }

  test("two filtered variables with different periods, each its own filtfiltSegmented") {
    import spark.implicits._
    val n = 3000
    val x = Array.tabulate(n)(i => math.sin(2 * math.Pi * 0.004 * i) + 0.4 * math.sin(i * 0.9))
    val y = Array.tabulate(n)(i => math.cos(2 * math.Pi * 0.002 * i) + 0.3 * math.cos(i * 1.3))
    val df = new scala.util.Random(7).shuffle((0 until n).toVector)
      .map(i => (i.toLong, x(i), y(i))).toDF("t", "x", "y")
    val meta = Meta(Map[String, Any]("sample_interval" -> 1.0,
      "x_lowpass_filt" -> 10.0, "y_lowpass_filt" -> 60.0))
    val out = Qaqc.applyAll(df, meta, Seq("x", "y"), order = Seq("t"), part = Nil)
    assert(out.columns.toSeq == Seq("t", "x", "y", "x_unfiltered", "y_unfiltered"))
    val rows = out.orderBy("t").collect()
    for ((v, raw, period) <- Seq(("x", x, 10.0), ("y", y, 60.0))) {
      val want = Butterworth.filtfiltSegmented(
        Butterworth.lowpass(4, 1.0 / period, 1.0), raw, 65536)
      for (i <- 0 until n) {
        assert(java.lang.Double.doubleToLongBits(rows(i).getAs[Double](v)) ==
          java.lang.Double.doubleToLongBits(want(i)), s"$v row $i")
        assert(rows(i).getAs[Double](s"${v}_unfiltered") == raw(i))
      }
    }
  }

  test("a {v}_std filtered after v is read by v's std trim as it was before its filter") {
    import spark.implicits._
    // x_std alternates 0.05 / 0.5 around x = 1: unfiltered, std_ratio 0.2
    // nulls every other x; lowpassed to ~0.28 it would null them all
    val n = 400
    val df = (0 until n).map(i => (i.toLong, 1.0, if (i % 2 == 0) 0.05 else 0.5))
      .toDF("t", "x", "x_std")
    val meta = Meta(Map[String, Any]("sample_interval" -> 1.0,
      "x_std_ratio" -> 0.2, "x_std_lowpass_filt" -> 10.0))
    val out = Qaqc.applyAll(df, meta, Seq("x", "x_std"), order = Seq("t"), part = Nil)
    assert(out.columns.toSeq == Seq("t", "x", "x_std", "x_std_unfiltered"))
    val rows = out.orderBy("t").collect()
    assert(rows.indices.forall(i =>
      rows(i).isNullAt(1) == (i % 2 == 1) && (i % 2 == 1 || rows(i).getDouble(1) == 1.0)))
    val want = Butterworth.filtfiltSegmented(Butterworth.lowpass(4, 0.1, 1.0),
      Array.tabulate(n)(i => if (i % 2 == 0) 0.05 else 0.5), 65536)
    assert(rows.map(_.getDouble(2)).toSeq == want.toSeq)
  }

  test("{var}_med_filt smooths with scipy's zero-padded median") {
    import spark.implicits._
    val vals = Seq(1.0, 9.0, 2.0, 3.0, 8.0, 4.0)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("t", "x")
    val meta = Meta(Map[String, Any]("x_med_filt" -> 3))
    val out = Qaqc.applyAll(df, meta, Seq("x"), order = Seq("t"), part = Nil)
      .orderBy("t").collect().map(_.getAs[Double]("x"))
    // scipy.signal.medfilt([1,9,2,3,8,4], 3) = [1,2,3,3,4,4]
    // (edges padded with zeros: med(0,1,9)=1, med(8,4,0)=4)
    assert(out.toSeq == Seq(1.0, 2.0, 3.0, 3.0, 4.0, 4.0))
  }

  test("even med kernel and missing sample rate fail loudly") {
    import spark.implicits._
    val df = series(16).toDF("t", "x")
    val even = intercept[IllegalArgumentException] {
      Qaqc.applyAll(df, Meta(Map[String, Any]("x_med_filt" -> 4)),
        Seq("x"), Seq("t"), Nil)
    }
    assert(even.getMessage.contains("odd"))
    val noSr = intercept[IllegalArgumentException] {
      Qaqc.applyAll(df, Meta(Map[String, Any]("x_lowpass_filt" -> 10.0)),
        Seq("x"), Seq("t"), Nil)
    }
    assert(noSr.getMessage.contains("sample_rate"))
  }
}
