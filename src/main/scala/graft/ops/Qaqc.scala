package graft.ops

import graft.core.Meta
import graft.kernels.Butterworth
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * The attr-driven QA/QC orchestrator — graft's `call_qaqc`
 * (stglib/core/qaqc.py:12-60): each trim fires iff its config key
 * `{var}_<op>` is present in Meta, applied in the reference's fixed order,
 * with the mask/by-any/fliers passes re-run after the per-var trims.
 * The Meta map IS the logical plan: plan construction happens once on the
 * driver; the result is a single Column-expression pipeline that Catalyst
 * fuses into one pass (plus window exchanges where trims need lag/lead).
 */
object Qaqc {

  /** `v`'s median filter and trims in reference order, std trims on `stdCol`. */
  private def trimVar(df0: DataFrame, meta: Meta, v: String, stdCol: String,
                      order: Seq[String], part: Seq[String],
                      sampleCol: Option[String]): DataFrame = {
    var df = df0
    def d(key: String): Option[Double] = meta.dbl(s"${v}_$key")
    def i(key: String): Option[Int] = meta.int(s"${v}_$key")

    // {var}_med_filt: N-point median SMOOTHER (zero-padded edges, the
    // scipy.signal.medfilt contract rollingMedian(zeroPad=true) replays);
    // even kernels raise, like the reference (filter.py:226-229)
    i("med_filt").foreach { k =>
      require(k % 2 == 1,
        s"${v}_med_filt kernel $k is not an odd whole number")
      df = df.withColumn(v, Trims.rollingMedian(v, k, order, part))
    }

    // medians first (filter.apply_med_filt analog folded into trim_med_diff)
    d("med_diff").foreach { thr =>
      val k = i("med_diff_kernel").getOrElse(5)
      df = Trims.trimMedDiff(df, v, thr, k, order, part, zeroPad = false)
    }
    d("med_diff_pct").foreach { thr =>
      val k = i("med_diff_pct_kernel").getOrElse(5)
      df = Trims.trimMedDiffPct(df, v, thr, k, order, part, zeroPad = false)
    }
    d("min_diff").foreach(thr => df = Trims.trimMinDiff(df, v, thr, order, part))
    d("min_diff_pct").foreach(thr => df = Trims.trimMinDiffPct(df, v, thr, order, part))
    d("max_diff").foreach(thr => df = Trims.trimMaxDiff(df, v, thr, order, part))
    d("max_diff_pct").foreach(thr => df = Trims.trimMaxDiffPct(df, v, thr, order, part))
    d("maxabs_diff").foreach(thr => df = Trims.trimMaxAbsDiff(df, v, thr, order, part))
    d("max_blip").foreach(thr => df = Trims.trimMaxBlip(df, v, thr, order, part))
    d("max_blip_pct").foreach(thr => df = Trims.trimMaxBlipPct(df, v, thr, order, part))
    d("std_ratio").foreach(r => df = Trims.trimStdRatio(df, v, r, stdCol))
    d("max_std").foreach(m => df = Trims.trimMaxStd(df, v, m, stdCol))
    i("warmup_samples").foreach { n =>
      sampleCol.foreach(sc => df = Trims.trimWarmup(df, v, n, sc))
    }
    d("min").foreach(m => df = Trims.trimMin(df, v, m))
    d("max").foreach(m => df = Trims.trimMax(df, v, m))
    meta.dblSeq(s"${v}_bad_ens").foreach { idx =>
      val ranges = idx.map(_.toInt).grouped(2).collect { case Seq(a, b) => (a, b) }.toSeq
      df = Trims.trimBadEnsIndex(df, v, ranges, order, part)
    }
    df
  }

  /** `{v}_lowpass/highpass/bandpass_filt`'s Butterworth filter: PERIODS in
    * seconds (filter.py:131-147: cutfreq = 1/attr), order `filter_order`,
    * default 4 (filter.py:45-48), sr from sample_rate or 1/sample_interval,
    * missing -> loud error like the reference's ValueError. */
  private def butterSos(meta: Meta, v: String): Option[Array[Butterworth.Sos]] = {
    val ford = meta.int("filter_order").getOrElse(4)
    def sr: Double = meta.dbl("sample_rate").orElse(meta.dbl("sample_interval").map(1.0 / _))
      .getOrElse(throw new IllegalArgumentException(
        s"sample_rate or sample_interval missing in attrs: cannot apply a Butterworth filter to $v"))
    meta.dbl(s"${v}_lowpass_filt").map(p => Butterworth.lowpass(ford, 1.0 / p, sr))
      .orElse(meta.dbl(s"${v}_highpass_filt").map(p => Butterworth.highpass(ford, 1.0 / p, sr)))
      .orElse(meta.dblSeq(s"${v}_bandpass_filt").map { ps =>
        // the reference's [attr0, attr1] are the LONG and SHORT periods:
        // cutfreq_lo = 1/attr0 < cutfreq_hi = 1/attr1 (filter.py:141-146);
        // bandpass() rejects a reversed band loudly
        require(ps.length == 2, s"${v}_bandpass_filt needs [long, short] periods")
        Butterworth.bandpass(ford, 1.0 / ps(0), 1.0 / ps(1), sr)
      })
  }

  /** Full call_qaqc over a set of data variables, ordered by `order` within
    * `part`: filters, per-var trims, then the mask-expr / mask / by-any /
    * fliers re-run passes, then drop_vars. */
  def applyAll(df0: DataFrame, meta: Meta, vars: Seq[String],
               order: Seq[String], part: Seq[String],
               sampleCol: Option[String] = None): DataFrame = {
    // FILTERS first, in the reference's call_qaqc order (qaqc.py:19-20):
    // each var apply_butter_filt or apply_med_filt changes keeps a
    // `{var}_unfiltered` copy, then every apply_butter_filt runs in ONE
    // whole-series pass; the median filters run with each var's trims
    val filters = vars.flatMap(v => butterSos(meta, v).map(v -> _))
    require(filters.isEmpty || part.isEmpty,
      "config-keyed Butterworth filtering is wired for whole-series" +
        " inputs; filter grouped data with Spectra.filterColumns and a group")
    val copied = vars.filter(v => (filters.exists(_._1 == v) || meta.int(s"${v}_med_filt")
        .isDefined) && !df0.columns.contains(s"${v}_unfiltered"))
      .foldLeft(df0)((d, v) => d.withColumn(s"${v}_unfiltered", col(v)))
    var df = vars.zipWithIndex.foldLeft(Spectra.filterColumns(copied, None, order, filters)) {
      case (d, (v, n)) =>
        // a {v}_std filtered after v is read as it was before its filter,
        // as when each var's filter ran just before its own trims
        val std = s"${v}_std"
        trimVar(d, meta, v, if (vars.indexOf(std) > n && filters.exists(_._1 == std))
          s"${std}_unfiltered" else std, order, part, sampleCol)
    }
    for (v <- vars)
      meta.str(s"${v}_mask_expr").foreach(e => df = MaskExpr.trimMaskExpr(df, v, e))
    for (v <- vars)
      meta.strSeq(s"${v}_mask").foreach(ms => df = Trims.trimMask(df, v, ms))
    for (v <- vars) {
      meta.str(s"${v}_trim_by").foreach(byVar => df = Trims.trimByVar(df, v, byVar))
      meta.int(s"${v}_fliers").foreach(n => df = Trims.trimFliers(df, v, n, order, part))
    }
    meta.strSeq("drop_vars").foreach(vs => df = Clip.dropVars(df, vs))
    df
  }
}

/**
 * Profiler-specific trims (SURVEY §2.3 side-lobe family,
 * stglib/aqd/aqdutils.py:435-672): side-lobe bin masking and
 * trailing all-null bin removal, plus velocity quality gating.
 */
object ProfileTrims {

  /** trim_method="water level sl": side-lobe contamination cutoff
    * bindist >= P·cos(beam_angle) − bin_size·surf_bins
    * (stglib/aqd/aqdutils.py:540-556). */
  def trimSidelobes(df: DataFrame, vars: Seq[String], bindistCol: String,
                    pCol: String, beamAngleDeg: Double, binSize: Double,
                    surfBins: Int): DataFrame = {
    val cutoff = col(pCol) * math.cos(math.toRadians(beamAngleDeg)) -
      binSize * surfBins
    vars.foldLeft(df)((d, v) =>
      d.withColumn(v, when(col(bindistCol) < cutoff, col(v))))
  }

  /** Drop trailing bins where the variable is null across ALL times —
    * the `argmax(isnull.all(dim=time))` trim (stglib/aqd/aqdutils.py:521-534):
    * find the first all-null bin, keep strictly below it. */
  def dropTrailingNullBins(df: DataFrame, v: String, bindistCol: String): DataFrame = {
    val anyValid = max(when(col(v).isNotNull, 1).otherwise(0))
      .over(Window.partitionBy(col(bindistCol)))
    val tagged = df.withColumn("__valid_bin", anyValid)
    // scalar threshold via aggregate + broadcast join — a global window here
    // would force the whole table into one partition
    val firstBad = tagged.agg(
      min(when(col("__valid_bin") === 0, col(bindistCol))).as("__first_bad"),
      min(col(bindistCol)).as("__min_bin"))
    // reference no-ops when the first all-null bin is bin 0 (aqdutils.py
    // `if not lastbin == 0`) — don't drop the entire profile in that case
    tagged.crossJoin(broadcast(firstBad))
      .filter(col("__first_bad").isNull ||
        col("__first_bad") === col("__min_bin") ||
        col(bindistCol) < col("__first_bad"))
      .drop("__valid_bin", "__first_bad", "__min_bin")
  }

  /** AGC / correlation quality gating: null velocity components where the
    * quality variable is outside its threshold
    * (stglib/aqd/aqdutils.py:1631-1716, stglib/vec/cdf2nc.py:628-675). */
  def gateByQuality(df: DataFrame, vars: Seq[String], qualCol: String,
                    minVal: Double): DataFrame =
    vars.foldLeft(df)((d, v) =>
      d.withColumn(v, when(col(qualCol) >= minVal, col(v))))
}
