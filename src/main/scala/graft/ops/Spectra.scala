package graft.ops

import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag

import graft.kernels.{Butterworth, Spectral}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._

/**
 * Spark wiring for the per-burst signal kernels (SURVEY §2.10/§2.12) — the
 * same fan-out point where the reference used one dask future per burst
 * (stglib/core/waves.py:263-306), but distributed by Spark's scheduler for
 * every kernel, not just DIWASP.
 *
 * Distribution pattern: `mapPartitions` over contiguous runs of the burst
 * ([[perGroup]]), NOT `groupByKey.mapGroups`. [[Burst.fromContinuous]]'s
 * bursts arrive so laid out, as the sweep's planned exec declares (and run
 * as they are if cut as wide as the cluster); other input gets
 * `repartition(n, burst) + sortWithinPartitions`.
 * The groupByKey exchange is subject to AQE partition coalescing, which sizes
 * partitions by shuffle BYTES — a few MB of burst rows coalesce to one or
 * two partitions and the kernel work (the actual cost, invisible to AQE)
 * serializes. REPARTITION_BY_NUM is exempt from coalescing, and the
 * partition-local sort both restores sample order (Spark guarantees no
 * intra-group order) and makes each burst a contiguous run.
 *
 * Scale: burst groups are small (≤4096 samples × few vars), so per-run
 * state is bounded; skew is impossible by construction (equal-size bursts).
 *
 * The in-place filter ([[filterColumns]]) filters a step's columns in one
 * pass: per group over [[perGroup]]'s runs, over a whole series as one
 * ordered [[Sweep]] reading its overlap-save margins from its neighbours.
 * Both are lazy: building either frame runs no Spark job.
 */
object Spectra {

  /** Run `f` once per contiguous run of equal group key `_1`, in `_2` order:
    * the one per-group kernel fan-out, also under `runots son nc2xy` and
    * `sonar_regrid`. Input ranged on `_1` into `defaultParallelism` or more
    * partitions and sorted on (`_1`, `_2`) ([[Sweep.laidOut]]) runs as it
    * is; other input, a narrower one too, is repartitioned by `_1` into
    * `defaultParallelism` (AQE-exempt) and sorted within partitions.
    *
    * The extra `lit(0)` hash column is load-bearing: when the input is
    * already hash-partitioned on the key (e.g. a window PARTITION BY the
    * burst upstream), the planner statically elides a plain
    * `repartition(n, key)` — and AQE then coalesces the remaining ordinary
    * exchange of a small input to ONE partition, serializing every kernel
    * through one task (measured 195 IMLM bursts on a single core). A
    * distinct expression set keeps the REPARTITION_BY_NUM exchange, which
    * AQE must honor. */
  private[graft] def perGroup[T <: Product : ClassTag, R <: Product : TypeTag](ds: Dataset[T])(
      f: (Long, Array[T]) => Iterator[R]): Dataset[R] = {
    def keyOf(t: T) = t.productElement(0).asInstanceOf[Long]
    byGroup(ds, "_1", Seq("_2")).mapPartitions(it =>
      runs(it)(keyOf).flatMap(run => f(keyOf(run.head), run)))(Encoders.product[R])
  }

  /** [[perGroup]]'s layout of `ds`, runs of `group` in `order`. */
  private def byGroup[T](ds: Dataset[T], group: String, order: Seq[String]): Dataset[T] = {
    val n = ds.sparkSession.sparkContext.defaultParallelism
    val sort = group +: order
    if (Sweep.laidOut(ds, Sweep.Layout(Seq(group), sort), n)) ds
    else ds.repartition(n, col(group), lit(0)).sortWithinPartitions(sort.map(col): _*)
  }

  /** The contiguous runs of equal `key` in `it`, in order. */
  private def runs[A: ClassTag](it: Iterator[A])(key: A => Any): Iterator[Array[A]] = {
    val b = it.buffered
    Iterator.continually(b).takeWhile(_.hasNext).map { _ =>
      val k = key(b.head)
      Iterator.continually(b).takeWhile(b => b.hasNext && key(b.head) == k).map(_.next()).toArray
    }
  }

  /** The kernels' input: (group, sample) as longs, then each value (one for
    * `Scalar`; p, u, v for `Puv`) as a double with nulls as NaN. */
  private type Scalar = (Long, Long, Double)
  private type Puv = (Long, Long, Double, Double, Double)

  private def kernelInput[T <: Product : TypeTag](df: DataFrame, groupCol: String,
      sampleCol: String, valueCols: String*): Dataset[T] =
    df.select(col(groupCol).cast("long").as("_1") +:
      col(sampleCol).cast("long").as("_2") +:
      valueCols.zipWithIndex.map { case (v, i) =>
        coalesce(col(v).cast("double"), lit(Double.NaN)).as(s"_${i + 3}") }: _*)
      .as(Encoders.product[T])

  /** DIWASP over one burst's (p, u, v) samples: pressure at height zp,
    * colocated velocities at zuv. */
  private def dirspec(rows: Array[Puv], depth: Double, zp: Double, zuv: Double,
                      fs: Double, nfft: Int, dres: Int, method: String, miter: Int,
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
                            kpmin: Option[Double] = None): Dataset[WaveStatsRow] =
    perGroup(kernelInput[Scalar](df, burstCol, sampleCol, presCol)) { (k, rows) =>
      val w = Spectral.waveStatsFromPressure(rows.map(_._3), fs, z, nsegs, noise, fcut, kpmin)
      Iterator.single(
        WaveStatsRow(k, w.h, w.wh4061, w.wp4060, w.wpPeak, w.m0, w.m2, w.tailind))
    }

  /** make_waves_ds_elev over long-format (burst, sample, elevation) rows. */
  def waveStatsFromElevation(df: DataFrame, burstCol: String, sampleCol: String,
                             elevCol: String, fs: Double,
                             nsegs: Int = 16): Dataset[WaveStatsRow] =
    perGroup(kernelInput[Scalar](df, burstCol, sampleCol, elevCol)) { (k, rows) =>
      val w = Spectral.waveStatsFromElevation(rows.map(_._3), fs, nsegs)
      Iterator.single(
        WaveStatsRow(k, w.h, w.wh4061, w.wp4060, w.wpPeak, w.m0, w.m2, w.tailind))
    }

  final case class SpectrumRow(burst: Long, frequency: Double, pspec: Double)

  /** Per-burst elevation spectrum, exploded to (burst, frequency, pspec)
    * rows — the long-format twin of spec["pspec"]. */
  def pressureSpectra(df: DataFrame, burstCol: String, sampleCol: String,
                      presCol: String, fs: Double, z: Double,
                      nsegs: Int = 16,
                      fcut: Option[Double] = None,
                      kpmin: Option[Double] = None): Dataset[SpectrumRow] =
    perGroup(kernelInput[Scalar](df, burstCol, sampleCol, presCol)) { (k, rows) =>
      val w = Spectral.waveStatsFromPressure(rows.map(_._3), fs, z, nsegs,
        fcut = fcut, kpmin = kpmin)
      w.frequencies.indices.iterator.map(i =>
        SpectrumRow(k, w.frequencies(i), w.pspec(i)))
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
               fftLength: Int = 512): Dataset[PuvRow] =
    perGroup(kernelInput[Puv](df, burstCol, sampleCol, pCol, uCol, vCol)) { (k, rows) =>
      val r = graft.kernels.Puv.puvQuick(
        rows.map(_._3), rows.map(_._4), rows.map(_._5),
        depth, zp, zuv, fs, fftLength)
      Iterator.single(
        PuvRow(k, r.hrmsp, r.hrmsu, r.ubr, r.omegar, r.tr, r.tpp, r.tpu,
          r.phir, r.azr, r.ublo, r.ubhi, r.ubig, r.hrmspTail, r.hrmsuTail))
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
      : Dataset[DirSpecRow] =
    perGroup(kernelInput[Puv](df, burstCol, sampleCol, pCol, uCol, vCol)) { (k, rows) =>
      val d = dirspec(rows, depth, zp, zuv, fs, nfft, dres, method, miter,
        fmin, fmax, smooth, interpTo)
      Iterator.single(
        DirSpecRow(k, d.hs, d.tp, d.dtp, d.dp, d.freqs.length, d.dirs.length))
    }

  final case class DspecStatRow(burst: Long, freq: Double, dir: Double,
                                s: Double, hs: Double, tp: Double, dtp: Double,
                                dp: Double, nfreq: Int, ndir: Int)

  /** Full DIWASP directional spectrum S(freq, dir) per burst (the `dspec`
    * grid, stglib/core/waves.py:185-192) in long format, WITH the per-burst
    * stats on every row: one kernel run serves the grid and the stats sink
    * (the CLI diwasp step); callers project/distinct the slice they need. */
  def diwaspSpectrumWithStats(df: DataFrame, burstCol: String, sampleCol: String,
                              pCol: String, uCol: String, vCol: String,
                              depth: Double, zp: Double, zuv: Double, fs: Double,
                              nfft: Int, dres: Int, method: String, miter: Int,
                              fmin: Double, fmax: Double, smooth: Boolean = true)
      : Dataset[DspecStatRow] =
    perGroup(kernelInput[Puv](df, burstCol, sampleCol, pCol, uCol, vCol)) { (k, rows) =>
      val d = dirspec(rows, depth, zp, zuv, fs, nfft, dres, method, miter,
        fmin, fmax, smooth, None)
      for {
        fi <- d.freqs.indices.iterator
        di <- d.dirs.indices.iterator
      } yield DspecStatRow(k, d.freqs(fi), d.dirs(di), d.s(fi)(di),
        d.hs, d.tp, d.dtp, d.dp, d.freqs.length, d.dirs.length)
    }

  final case class FiltRow(series: Long, sample: Long, value_filt: Double)

  /** The whole-series filter's overlap-save segment length. */
  private val Segment = 65536

  /** Whole-series zero-phase Butterworth filtering in `segLen`-sample
    * overlap-save segments, long format: `sample` is the global position
    * in (orderCols) order, which the filter's sweep writes from its row
    * counts, `series` its segment and `value_filt` the filtered value. */
  def filtfiltWholeSeries(df: DataFrame, orderCols: Seq[String], valueCol: String,
                          sos: Array[Butterworth.Sos],
                          segLen: Int = Segment): Dataset[FiltRow] =
    wholeSeries(df.select((orderCols.map(col) :+ col(valueCol)): _*), orderCols,
        Seq(valueCol -> sos), segLen, Some("__pos"))
      .select(expr(s"__pos div $segLen").as("series"), col("__pos").as("sample"),
        col(valueCol).as("value_filt"))
      .as(Encoders.product[FiltRow])

  /** [[filterColumns]] of one column over the whole series. */
  def filterColumnWholeSeries(df: DataFrame, orderCols: Seq[String], valueCol: String,
                              sos: Array[Butterworth.Sos],
                              segLen: Int = Segment): DataFrame =
    wholeSeries(df, orderCols, Seq(valueCol -> sos), segLen, None)

  /** Replace each `filters` column IN PLACE with its zero-phase Butterworth
    * filtered values, each through its own `sos`, all in one pass: the
    * filter every config-keyed filter (qaqc butter filters, filter_vel,
    * filtered water level) rides (stglib/core/filter.py:60-275). Each column
    * becomes a DOUBLE (nullable over a whole series); nulls go in as NaN.
    * With no `group`, the series in (orderCols) order, a total order, is
    * filtered whole ([[wholeSeries]]); with one, each run of equal `group`
    * over [[perGroup]]'s layout is filtered ([[Butterworth.filtfilt]]) in
    * (orderCols) order and written back into its own rows. */
  def filterColumns(df: DataFrame, group: Option[String], orderCols: Seq[String],
                    filters: Seq[(String, Array[Butterworth.Sos])]): DataFrame =
    if (filters.isEmpty) df
    else group.fold(wholeSeries(df, orderCols, filters, Segment, None)) { g =>
      val in = filters.foldLeft(df)((d, f) => d.withColumn(f._1, col(f._1).cast("double")))
      val (k, os) = (in.columns.indexOf(g), filters.map(f => in.columns.indexOf(f._1)))
      byGroup(in, g, orderCols).mapPartitions(runs(_)(_.get(k)).flatMap { run =>
        val ys = filters.zip(os).map { case ((_, sos), o) => Butterworth.filtfilt(sos,
          run.map(r => if (r.isNullAt(o)) Double.NaN else r.getDouble(o))) }
        run.indices.iterator.map(i => Row.fromSeq(
          os.indices.foldLeft(run(i).toSeq)((vs, j) => vs.updated(os(j), ys(j)(i)))))
      })(Encoders.row(in.schema))
    }

  /** [[filterColumns]] over the whole series, each column bit-equal to its
    * own [[Butterworth.filtfiltSegmented]] with `segLen`-sample segments,
    * also writing the global position to `position` if given. Overlap-save
    * filtfilt (SURVEY §7.5 risk 2) as one [[Sweep]]: one range exchange, and
    * no task ever holds the series. Each partition's summary is its row
    * count, so partition `p` knows its positions [at(p), at(p + 1)) and the
    * span [lo, hi) its segments read with the widest
    * [[Butterworth.marginFor]] of context, cut at the series ends. The pass
    * reads the span from its own and its neighbours' rows once, and filters
    * each column per segment in the window its own margin gives. */
  private def wholeSeries(df: DataFrame, orderCols: Seq[String],
                          filters: Seq[(String, Array[Butterworth.Sos])], segLen: Int,
                          position: Option[String]): DataFrame = {
    require(segLen > 0, s"segLen $segLen must be positive")
    val ms = filters.map(f => Butterworth.marginFor(f._2))
    // the prefix counts and the span p's segments read (none if p is empty)
    def span(counts: Array[Long], p: Int): (Array[Long], Long, Long) = {
      val at = counts.scanLeft(0L)(_ + _)
      if (at(p) == at(p + 1)) (at, 0L, 0L)
      else (at, math.max(0L, at(p) / segLen * segLen - ms.max),
        math.min(at.last, ((at(p + 1) - 1) / segLen + 1) * segLen + ms.max))
    }
    Index.sweepColumns(df, orderCols, filters.map(f => f._1 -> col(f._1).cast("double")) ++
        position.map(_ -> lit(0L)), nullable = true)(
        _ => (it: Iterator[InternalRow]) => it.size.toLong)(
        (p, counts) => { val (at, lo, hi) = span(counts, p); Sweep.holding(at, lo, hi) }) {
        (p, counts, os, read) =>
      val (at, lo, hi) = span(counts, p)
      val (a, b) = (at(p), at(p + 1))
      val xs = filters.map(_ => new Array[Double]((hi - lo).toInt))
      for ((r, i) <- Sweep.rowsAt(at, lo, hi, read).zipWithIndex; j <- xs.indices)
        xs(j)(i) = if (r.isNullAt(os(j))) Double.NaN else r.getDouble(os(j))
      val ys = filters.indices.map { j =>
        val y = new Array[Double]((b - a).toInt)
        var s = if (a < b) a / segLen * segLen else b
        while (s < b) {
          val (c0, c1) = (math.max(0L, s - ms(j)), math.min(at.last, s + segLen + ms(j)))
          val f = Butterworth.filtfilt(filters(j)._2,
            java.util.Arrays.copyOfRange(xs(j), (c0 - lo).toInt, (c1 - lo).toInt))
          val (from, until) = (math.max(s, a), math.min(s + segLen, b))
          System.arraycopy(f, (from - c0).toInt, y, (from - a).toInt, (until - from).toInt)
          s += segLen
        }
        y
      }
      val v = new GenericInternalRow(os.length)
      var i = -1
      _ => {
        i += 1
        ys.indices.foreach(j => v.setDouble(j, ys(j)(i)))
        position.foreach(_ => v.setLong(ys.length, a + i))
        v
      }
    }
  }
}
