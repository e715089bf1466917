package graft.ops

import scala.reflect.ClassTag

import graft.kernels.{Butterworth, Spectral}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._

/**
 * Spark wiring for the per-burst signal kernels (SURVEY §2.10/§2.12) — the
 * same fan-out point where the reference used one dask future per burst
 * (stglib/core/waves.py:263-306), but distributed by Spark's scheduler for
 * every kernel, not just DIWASP.
 *
 * Distribution pattern: `repartition(n, burst) + sortWithinPartitions +
 * mapPartitions` over contiguous runs, NOT `groupByKey.mapGroups`. The
 * groupByKey exchange is subject to AQE partition coalescing, which sizes
 * partitions by shuffle BYTES — a few MB of burst rows coalesce to one or
 * two partitions and the kernel work (the actual cost, invisible to AQE)
 * serializes. REPARTITION_BY_NUM is exempt from coalescing, and the
 * partition-local sort both restores sample order (Spark guarantees no
 * intra-group order) and makes each burst a contiguous run.
 *
 * Scale: burst groups are small (≤4096 samples × few vars), so per-run
 * state is bounded; skew is impossible by construction (equal-size bursts).
 */
object Spectra {

  /** Repartition by group key (AQE-exempt), sort (key, sample) within
    * partitions, and run `f` once per contiguous equal-key run.
    *
    * The extra `lit(0)` hash column is load-bearing: when the input is
    * already hash-partitioned on the key (e.g. a window PARTITION BY the
    * burst upstream), the planner statically elides a plain
    * `repartition(n, key)` — and AQE then coalesces the remaining ordinary
    * exchange of a small input to ONE partition, serializing every kernel
    * through one task (measured 195 IMLM bursts on a single core). A
    * distinct expression set keeps the REPARTITION_BY_NUM exchange, which
    * AQE must honor. */
  private def perGroup[T: ClassTag, R](ds: Dataset[T], keyOf: T => Long,
      numPartitions: Int = 0)(
      f: (Long, Array[T]) => Iterator[R])(implicit enc: Encoder[R]): Dataset[R] = {
    val n = if (numPartitions > 0) numPartitions
            else ds.sparkSession.sparkContext.defaultParallelism
    ds.repartition(n, col("_1"), lit(0))
      .sortWithinPartitions("_1", "_2")
      .mapPartitions { it =>
        val b = it.buffered
        val runs = new Iterator[(Long, Array[T])] {
          def hasNext: Boolean = b.hasNext
          def next(): (Long, Array[T]) = {
            val k = keyOf(b.head)
            val buf = scala.collection.mutable.ArrayBuffer.empty[T]
            while (b.hasNext && keyOf(b.head) == k) buf += b.next()
            (k, buf.toArray)
          }
        }
        runs.flatMap { case (k, arr) => f(k, arr) }
      }
  }

  /** The per-group kernels' input: (group, sample) as longs, then each
    * value column as a double with nulls as NaN. */
  private def kernelInput[T: Encoder](df: DataFrame, groupCol: String,
                                      sampleCol: String, valueCols: String*): Dataset[T] =
    df.select(col(groupCol).cast("long").as("_1") +:
      col(sampleCol).cast("long").as("_2") +:
      valueCols.zipWithIndex.map { case (v, i) =>
        coalesce(col(v).cast("double"), lit(Double.NaN)).as(s"_${i + 3}") }: _*)
      .as[T]

  /** DIWASP over one burst's (p, u, v) samples: pressure at height zp,
    * colocated velocities at zuv. */
  private def dirspec(rows: Array[(Long, Long, Double, Double, Double)],
                      depth: Double, zp: Double, zuv: Double, fs: Double,
                      nfft: Int, dres: Int, method: String, miter: Int,
                      fmin: Double, fmax: Double, smooth: Boolean,
                      interpTo: Option[(Array[Double], Array[Double])]) =
    graft.kernels.Diwasp.dirspec(
      Array(rows.map(_._3), rows.map(_._4), rows.map(_._5)),
      Array("pres", "velx", "vely"),
      Array(Array(0.0, 0.0, 0.0), Array(0.0, 0.0, 0.0), Array(zp, zuv, zuv)),
      depth, fs, nfft, dres, method, miter, fmin, fmax, smooth, interpTo)

  final case class WaveStatsRow(
      burst: Long, h: Double, wh_4061: Double, wp_4060: Double,
      wp_peak: Double, m0: Double, m2: Double, tailind: Int)

  /** make_waves_ds over long-format (burst, sample, pressure) rows. */
  def waveStatsFromPressure(df: DataFrame, burstCol: String, sampleCol: String,
                            presCol: String, fs: Double, z: Double,
                            nsegs: Int = 16, noise: Double = 0.9,
                            fcut: Option[Double] = None,
                            kpmin: Option[Double] = None): Dataset[WaveStatsRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    val ds = kernelInput[(Long, Long, Double)](df, burstCol, sampleCol, presCol)
    perGroup(ds, (t: (Long, Long, Double)) => t._1) { (k, rows) =>
      val p = rows.map(_._3)
      val w = Spectral.waveStatsFromPressure(p, fs, z, nsegs, noise, fcut, kpmin)
      Iterator.single(
        WaveStatsRow(k, w.h, w.wh4061, w.wp4060, w.wpPeak, w.m0, w.m2, w.tailind))
    }
  }

  /** make_waves_ds_elev over long-format (burst, sample, elevation) rows. */
  def waveStatsFromElevation(df: DataFrame, burstCol: String, sampleCol: String,
                             elevCol: String, fs: Double,
                             nsegs: Int = 16): Dataset[WaveStatsRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    val ds = kernelInput[(Long, Long, Double)](df, burstCol, sampleCol, elevCol)
    perGroup(ds, (t: (Long, Long, Double)) => t._1) { (k, rows) =>
      val w = Spectral.waveStatsFromElevation(rows.map(_._3), fs, nsegs)
      Iterator.single(
        WaveStatsRow(k, w.h, w.wh4061, w.wp4060, w.wpPeak, w.m0, w.m2, w.tailind))
    }
  }

  final case class SpectrumRow(burst: Long, frequency: Double, pspec: Double)

  /** Per-burst elevation spectrum, exploded to (burst, frequency, pspec)
    * rows — the long-format twin of spec["pspec"]. */
  def pressureSpectra(df: DataFrame, burstCol: String, sampleCol: String,
                      presCol: String, fs: Double, z: Double,
                      nsegs: Int = 16,
                      fcut: Option[Double] = None,
                      kpmin: Option[Double] = None): Dataset[SpectrumRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    val ds = kernelInput[(Long, Long, Double)](df, burstCol, sampleCol, presCol)
    perGroup(ds, (t: (Long, Long, Double)) => t._1) { (k, rows) =>
      val w = Spectral.waveStatsFromPressure(rows.map(_._3), fs, z, nsegs,
        fcut = fcut, kpmin = kpmin)
      w.frequencies.indices.iterator.map(i =>
        SpectrumRow(k, w.frequencies(i), w.pspec(i)))
    }
  }

  final case class PuvRow(
      burst: Long, hrmsp: Double, hrmsu: Double, ubr: Double, omegar: Double,
      tr: Double, tpp: Double, tpu: Double, phir: Double, azr: Double,
      ublo: Double, ubhi: Double, ubig: Double,
      hrmsp_tail: Double, hrmsu_tail: Double)

  /** puv_quick per burst over long-format (burst, sample, p, u, v) rows
    * (call_puv_quick_vectorized, stglib/core/waves.py:1847-1989). */
  def puvStats(df: DataFrame, burstCol: String, sampleCol: String,
               pCol: String, uCol: String, vCol: String,
               depth: Double, zp: Double, zuv: Double, fs: Double,
               fftLength: Int = 512): Dataset[PuvRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    val ds = kernelInput[(Long, Long, Double, Double, Double)](
      df, burstCol, sampleCol, pCol, uCol, vCol)
    perGroup(ds, (t: (Long, Long, Double, Double, Double)) => t._1) { (k, rows) =>
      val r = graft.kernels.Puv.puvQuick(
        rows.map(_._3), rows.map(_._4), rows.map(_._5),
        depth, zp, zuv, fs, fftLength)
      Iterator.single(
        PuvRow(k, r.hrmsp, r.hrmsu, r.ubr, r.omegar, r.tr, r.tpp, r.tpu,
          r.phir, r.azr, r.ublo, r.ubhi, r.ubig, r.hrmspTail, r.hrmsuTail))
    }
  }

  final case class DirSpecRow(
      burst: Long, hs: Double, tp: Double, dtp: Double, dp: Double,
      nfreq: Int, ndir: Int)

  /** DIWASP directional spectrum per burst over (burst, sample, p, u, v)
    * rows (make_diwasp_ds + call_diwasp_mp, stglib/core/waves.py:15-306).
    * One kernel run per burst = the reference's dask fan-out, on Spark. */
  def diwaspStats(df: DataFrame, burstCol: String, sampleCol: String,
                  pCol: String, uCol: String, vCol: String,
                  depth: Double, zp: Double, zuv: Double, fs: Double,
                  nfft: Int, dres: Int, method: String, miter: Int,
                  fmin: Double, fmax: Double, smooth: Boolean = true,
                  interpTo: Option[(Array[Double], Array[Double])] = None)
      : Dataset[DirSpecRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    val ds = kernelInput[(Long, Long, Double, Double, Double)](
      df, burstCol, sampleCol, pCol, uCol, vCol)
    perGroup(ds, (t: (Long, Long, Double, Double, Double)) => t._1) { (k, rows) =>
      val d = dirspec(rows, depth, zp, zuv, fs, nfft, dres, method, miter,
        fmin, fmax, smooth, interpTo)
      Iterator.single(
        DirSpecRow(k, d.hs, d.tp, d.dtp, d.dp, d.freqs.length, d.dirs.length))
    }
  }

  final case class DspecRow(burst: Long, freq: Double, dir: Double, s: Double)

  final case class DspecStatRow(burst: Long, freq: Double, dir: Double,
                                s: Double, hs: Double, tp: Double, dtp: Double,
                                dp: Double, nfreq: Int, ndir: Int)

  /** Full S(freq, dir) grid WITH the per-burst stats repeated on every row —
    * one kernel run serves both the grid sink and the stats sink (the CLI
    * diwasp step); callers project/distinct the slice they need. */
  def diwaspSpectrumWithStats(df: DataFrame, burstCol: String, sampleCol: String,
                              pCol: String, uCol: String, vCol: String,
                              depth: Double, zp: Double, zuv: Double, fs: Double,
                              nfft: Int, dres: Int, method: String, miter: Int,
                              fmin: Double, fmax: Double, smooth: Boolean = true)
      : Dataset[DspecStatRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    val ds = kernelInput[(Long, Long, Double, Double, Double)](
      df, burstCol, sampleCol, pCol, uCol, vCol)
    perGroup(ds, (t: (Long, Long, Double, Double, Double)) => t._1) { (k, rows) =>
      val d = dirspec(rows, depth, zp, zuv, fs, nfft, dres, method, miter,
        fmin, fmax, smooth, None)
      for {
        fi <- d.freqs.indices.iterator
        di <- d.dirs.indices.iterator
      } yield DspecStatRow(k, d.freqs(fi), d.dirs(di), d.s(fi)(di),
        d.hs, d.tp, d.dtp, d.dp, d.freqs.length, d.dirs.length)
    }
  }

  /** Full DIWASP directional spectrum S(freq, dir) per burst — the grid the
    * reference materializes as the `dspec` variable (stglib/core/waves.py:
    * 185-192), exploded to long-format rows. Same kernel fan-out as
    * [[diwaspStats]]; output volume is bursts × nfreq × ndir. */
  def diwaspFullSpectrum(df: DataFrame, burstCol: String, sampleCol: String,
                         pCol: String, uCol: String, vCol: String,
                         depth: Double, zp: Double, zuv: Double, fs: Double,
                         nfft: Int, dres: Int, method: String, miter: Int,
                         fmin: Double, fmax: Double, smooth: Boolean = true,
                         interpTo: Option[(Array[Double], Array[Double])] = None)
      : Dataset[DspecRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    val ds = kernelInput[(Long, Long, Double, Double, Double)](
      df, burstCol, sampleCol, pCol, uCol, vCol)
    perGroup(ds, (t: (Long, Long, Double, Double, Double)) => t._1) { (k, rows) =>
      val d = dirspec(rows, depth, zp, zuv, fs, nfft, dres, method, miter,
        fmin, fmax, smooth, interpTo)
      for {
        fi <- d.freqs.indices.iterator
        di <- d.dirs.indices.iterator
      } yield DspecRow(k, d.freqs(fi), d.dirs(di), d.s(fi)(di))
    }
  }

  final case class FiltRow(series: Long, sample: Long, value_filt: Double)

  /** Whole-series zero-phase Butterworth filtering via DISTRIBUTED
    * overlap-save (filtered water level, stglib/core/utils.py:1715-1756):
    * global positions come from [[Index.withGlobalPosition]]; rows within
    * `margin` of a segment boundary are duplicated into the neighboring
    * segment; each segment task then runs filtfilt over (margin + segLen +
    * margin) samples and keeps only its own. The IIR edge transient decays
    * below ~1e-12 inside the margin ([[Butterworth.marginFor]],
    * ButterworthSpec), so no task ever holds the series and the result
    * matches the single-pass filter. One ranged shuffle (the position
    * sweep) + one segment shuffle. */
  def filtfiltWholeSeries(df: DataFrame, orderCols: Seq[String], valueCol: String,
                          sos: Array[Butterworth.Sos],
                          segLen: Int = 65536): Dataset[FiltRow] = {
    val pos = Index.withGlobalPosition(
      df.select((orderCols.map(col) :+ col(valueCol)): _*), orderCols, "__pos")
    segmentFilt(pos, valueCol, sos, segLen)
  }

  /** Overlap-save segment pass over an ALREADY-POSITIONED frame (`__pos`
    * global order column): rows within `margin` of a segment boundary are
    * duplicated into the neighboring segment; each segment task runs
    * filtfilt over (margin + segLen + margin) samples and keeps its own. */
  private[graft] def segmentFilt(pos: DataFrame, valueCol: String,
                          sos: Array[Butterworth.Sos],
                          segLen: Int,
                          numPartitions: Int = 0): Dataset[FiltRow] = {
    val margin = Butterworth.marginFor(sos)
    require(segLen > 2 * margin, s"segLen $segLen must exceed 2x margin $margin")
    val spark = pos.sparkSession
    import spark.implicits._
    val segd = pos.select(col("__pos").as("pos"),
        coalesce(col(valueCol).cast("double"), lit(Double.NaN)).as("v"))
      .withColumn("segs", array_compact(array(
        expr(s"pos div $segLen"),
        when(col("pos") % segLen < margin, expr(s"pos div $segLen - 1")),
        when(col("pos") % segLen >= segLen - margin, expr(s"pos div $segLen + 1")))))
      .select(explode(col("segs")).as("_1"), col("pos").as("_2"), col("v").as("_3"))
      .filter(col("_1") >= 0)
      .as[(Long, Long, Double)]
    perGroup(segd, (t: (Long, Long, Double)) => t._1, numPartitions) { (seg, rows) =>
      val y = Butterworth.filtfilt(sos, rows.map(_._3))
      rows.indices.iterator
        .filter(i => rows(i)._2 / segLen == seg) // keep own samples only
        .map(i => FiltRow(seg, rows(i)._2, y(i)))
    }
  }

  /** Replace `valueCol` with its whole-series zero-phase filtered values
    * IN PLACE on the full frame — the shared in-place filter every
    * config-keyed filter (qaqc butter filters, filter_vel, filtered water
    * level) rides.
    *
    * The narrow (pos, v) projection rides the overlap-save segment kernel
    * ([[segmentFilt]]) and the filtered values join back on `__pos`,
    * unforced, so the planner picks the join algorithm. Every exchange is
    * widened with the exact series length (~256k rows per task), taken from
    * the position sweep's own counts with no extra action. A forced
    * shuffled-hash join-back and a fused wide-row segment pass both lost to
    * this shape; SCALING.md (round 20, r17) records the measurements. */
  def filterColumnWholeSeries(df: DataFrame, orderCols: Seq[String],
                              valueCol: String,
                              sos: Array[Butterworth.Sos]): DataFrame = {
    // ONE position sweep: its ranged frame is the only cache (Sweep ->
    // Spread.shared), and the segment-filter projection and the join-back
    // side both stream from it. Do NOT add a full-width persist here — at
    // 50M rows a second full-width cache thrashes the executor heap
    // (measured: hobo ×100 546 s with an extra persist vs the
    // shared-exchange-only form). Every exchange below is widened with the
    // SERIES LENGTH for the same reason the position pass is
    // (Index.scaledPartitions): a fixed session width turns a growing
    // series into a growing per-task sort. The exact count is the sum of
    // the sweep's per-partition counts, so it costs no extra action.
    // ~256k rows / task => ~6 MB narrow segment sorts, ~26 MB wide join
    // sorts.
    val (pos, total) =
      Index.withGlobalPositionCounted(df, orderCols, "__pos")
    val base = df.sparkSession.sessionState.conf.numShufflePartitions
    val n = math.max(base, math.min(total / 262144L + 1L, 4096L).toInt)
    val filt = segmentFilt(pos, valueCol, sos, 65536, n).toDF()
      .select(col("sample").as("__pos"), col("value_filt").as("__vf"))
    // explicit same-width same-key repartitions on both join sides
    // satisfy the join's required distribution: no extra exchange planned
    pos.repartition(n, col("__pos"))
      .join(filt.repartition(n, col("__pos")), Seq("__pos"), "left")
      .withColumn(valueCol, col("__vf"))
      .drop("__pos", "__vf")
  }

  /** Zero-phase Butterworth filtering per series/burst/bin group
    * (apply_butter_filt, stglib/core/filter.py:60-153). */
  def filtfiltPerGroup(df: DataFrame, groupCol: String, sampleCol: String,
                       valueCol: String, sos: Array[Butterworth.Sos]): Dataset[FiltRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    val ds = kernelInput[(Long, Long, Double)](df, groupCol, sampleCol, valueCol)
    perGroup(ds, (t: (Long, Long, Double)) => t._1) { (k, rows) =>
      val y = Butterworth.filtfilt(sos, rows.map(_._3))
      rows.indices.iterator.map(i => FiltRow(k, rows(i)._2, y(i)))
    }
  }
}
