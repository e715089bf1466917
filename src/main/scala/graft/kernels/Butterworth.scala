package graft.kernels

/**
 * Butterworth IIR design + zero-phase forward-backward filtering — the
 * engine behind stglib's `butter_filt`/`make_butter_filt`/`apply_butter_filt`
 * (stglib/core/filter.py:6-153), which wrap scipy.signal.butter(output="sos")
 * + sosfiltfilt. Pure Scala; applied per burst / per bin / whole-series from
 * the Spark layer.
 *
 * Design follows the standard analog-prototype + bilinear-transform path
 * (Oppenheim & Schafer; same math as scipy): Butterworth poles
 * s_k = exp(iπ(2k+n+1)/(2n)), frequency pre-warp, bilinear z = (2fs+s)/(2fs−s),
 * cascaded into second-order sections.
 */
object Butterworth {
  import Diwasp.C

  /** One second-order section: b0,b1,b2,a1,a2 (a0 normalized to 1). */
  final case class Sos(b0: Double, b1: Double, b2: Double, a1: Double, a2: Double)

  /** Butterworth low-pass SOS cascade, order n (even), cutoff wc [Hz], fs [Hz]. */
  def lowpass(n: Int, wc: Double, fs: Double): Array[Sos] = {
    require(n % 2 == 0, "even order only (pairs of conjugate poles)")
    val fs2 = 2.0 * fs
    // pre-warped analog cutoff
    val warped = fs2 * math.tan(math.Pi * wc / fs)
    // analog prototype poles (left half-plane), scaled by warped cutoff
    val poles = (0 until n / 2).map { k =>
      val theta = math.Pi * (2.0 * k + 1) / (2.0 * n) + math.Pi / 2.0
      C(math.cos(theta), math.sin(theta)) * warped
    }
    poles.map { p =>
      // bilinear: z-pole zp = (fs2 + p)/(fs2 - p); zeros at z = -1 (double)
      val zp = (C(fs2, 0) + p) / (C(fs2, 0) - p)
      // gain: match DC (z=1): H(1) = k*(1+1)^2/((1-zp)(1-zp*)) = 1
      val den = (C(1, 0) - zp) * (C(1, 0) - zp.conj)
      val kGain = den.re / 4.0 // den is real for conjugate pair
      Sos(kGain, 2.0 * kGain, kGain, -2.0 * zp.re, zp.re * zp.re + zp.im * zp.im)
    }.toArray
  }

  /** High-pass via the s → warped/s transform. */
  def highpass(n: Int, wc: Double, fs: Double): Array[Sos] = {
    require(n % 2 == 0, "even order only")
    val fs2 = 2.0 * fs
    val warped = fs2 * math.tan(math.Pi * wc / fs)
    val poles = (0 until n / 2).map { k =>
      val theta = math.Pi * (2.0 * k + 1) / (2.0 * n) + math.Pi / 2.0
      val lp = C(math.cos(theta), math.sin(theta))
      // s -> warped / s : pole p_hp = warped / lp
      C(warped, 0) / lp
    }
    poles.map { p =>
      val zp = (C(fs2, 0) + p) / (C(fs2, 0) - p)
      // zeros at z = +1 (double); gain matched at Nyquist (z = -1)
      val den = (C(-1, 0) - zp) * (C(-1, 0) - zp.conj)
      val kGain = den.re / 4.0
      Sos(kGain, -2.0 * kGain, kGain, -2.0 * zp.re, zp.re * zp.re + zp.im * zp.im)
    }.toArray
  }

  private def csqrt(z: C): C = {
    val m = math.hypot(z.re, z.im)
    val re = math.sqrt((m + z.re) / 2.0)
    val im = math.sqrt(math.max(0.0, (m - z.re) / 2.0))
    C(re, if (z.im >= 0) im else -im)
  }

  /** Band-pass via the analog lowpass→bandpass transform
    * s → (s² + wlo·whi)/(s·(whi−wlo)) of the order-n prototype — the same
    * pole set as scipy butter(btype="bandpass") (lp2bp_zpk): 2n poles,
    * n zeros at z=+1 and n at z=−1 after the bilinear transform. */
  def bandpass(n: Int, flo: Double, fhi: Double, fs: Double): Array[Sos] = {
    require(n % 2 == 0, "even order only")
    // scipy's butter raises for non-increasing Wn; without this a reversed
    // band gives negative bandwidth -> poles outside the unit circle and a
    // silently diverging filtfilt
    require(flo > 0 && flo < fhi && fhi < fs / 2,
      s"bandpass requires 0 < flo < fhi < fs/2, got flo=$flo fhi=$fhi fs=$fs")
    val fs2 = 2.0 * fs
    val wlo = fs2 * math.tan(math.Pi * flo / fs)
    val whi = fs2 * math.tan(math.Pi * fhi / fs)
    val bw = whi - wlo
    val w02 = wlo * whi
    // one prototype pole per conjugate pair (upper half-plane)
    val upperProto = (0 until n / 2).map { k =>
      val theta = math.Pi * (2.0 * k + 1) / (2.0 * n) + math.Pi / 2.0
      C(math.cos(theta), math.sin(theta))
    }
    // each prototype pole maps to two bandpass poles: roots of
    // s² − (bw·P)s + w0² = 0; their conjugates come from conj(P)
    val bpPoles = upperProto.flatMap { p =>
      val pb = p * bw
      val disc = csqrt(pb * pb - C(4.0 * w02, 0))
      Seq((pb + disc) * 0.5, (pb - disc) * 0.5)
    }
    // overall gain: analog k = bw^n, bilinear contributes fs2^n (n zeros at
    // s=0) over Π(fs2 − p_i) across all 2n poles (product is real by symmetry)
    var prod = C(1, 0)
    bpPoles.foreach { p =>
      val d = C(fs2, 0) - p
      prod = prod * (d * d.conj) // pole and its conjugate together
    }
    val kGain = math.pow(bw, n) * math.pow(fs2, n) / prod.re
    val sections = bpPoles.map { p =>
      val zp = (C(fs2, 0) + p) / (C(fs2, 0) - p)
      // numerator (z−1)(z+1)/z² = 1 + 0·z⁻¹ − 1·z⁻²
      Sos(1.0, 0.0, -1.0, -2.0 * zp.re, zp.re * zp.re + zp.im * zp.im)
    }.toArray
    // distribute the gain evenly so no single section over/under-flows
    val perSection = math.pow(kGain, 1.0 / sections.length)
    sections.map(s => Sos(s.b0 * perSection, s.b1 * perSection,
      s.b2 * perSection, s.a1, s.a2))
  }

  /** Direct-form II transposed single-pass filter with initial state scaled
    * to the first sample (steady-state-ish start, as sosfiltfilt does with
    * x0 scaling). */
  private def sosfilt(sos: Array[Sos], x: Array[Double], x0: Double): Array[Double] = {
    var cur = x
    var s = 0
    var scale = x0
    while (s < sos.length) {
      val S = sos(s)
      val out = new Array[Double](cur.length)
      // steady-state (lfilter_zi) initial conditions for a step of height
      // `scale`: with constant input x and settled output y = g·x,
      // z2 = x(b2 − a2·g), z1 = x(b1 − a1·g) + z2
      val dcGain = (S.b0 + S.b1 + S.b2) / (1.0 + S.a1 + S.a2)
      var z2 = scale * (S.b2 - S.a2 * dcGain)
      var z1 = scale * (S.b1 - S.a1 * dcGain) + z2
      var i = 0
      while (i < cur.length) {
        val xi = cur(i)
        val yi = S.b0 * xi + z1
        z1 = S.b1 * xi - S.a1 * yi + z2
        z2 = S.b2 * xi - S.a2 * yi
        out(i) = yi
        i += 1
      }
      scale *= dcGain
      cur = out
      s += 1
    }
    cur
  }

  /** Largest pole magnitude of the cascade — governs how fast the IIR
    * transient decays (error after M samples ~ r^M). Section poles are the
    * roots of z² + a1·z + a2: |p| = √a2 for complex pairs. */
  def poleRadius(sos: Array[Sos]): Double = sos.map { s =>
    val disc = s.a1 * s.a1 - 4.0 * s.a2
    if (disc < 0) math.sqrt(s.a2)
    else {
      val sq = math.sqrt(disc)
      math.max(math.abs((-s.a1 + sq) / 2.0), math.abs((-s.a1 - sq) / 2.0))
    }
  }.max

  /** Overlap margin for segmented filtfilt: enough samples for the filter
    * transient to decay below `tol` (relative), r^M ≤ tol → M = log tol /
    * log r. Floor at the scipy pad length. */
  def marginFor(sos: Array[Sos], tol: Double = 1e-16): Int = {
    val r = poleRadius(sos)
    val m = if (r <= 0.0 || r >= 1.0) 100000
            else math.ceil(math.log(tol) / math.log(r)).toInt
    math.max(3 * 2 * sos.length, m)
  }

  /** Segmented zero-phase filtering — overlap-save for IIR filtfilt: each
    * segLen block is filtered with [[marginFor]] REAL neighboring samples of
    * context on each side, then only the block's own samples are kept. The
    * forward and backward transients from the artificial segment edges decay
    * below ~1e-12 within the margin (spec-proven against the single-pass
    * [[filtfilt]]), so a 10⁹-sample series can be filtered with bounded
    * per-task state. Series ends use the same odd reflection as filtfilt,
    * so boundary segments agree exactly. */
  def filtfiltSegmented(sos: Array[Sos], x: Array[Double], segLen: Int): Array[Double] = {
    val margin = marginFor(sos)
    val n = x.length
    if (n <= segLen) return filtfilt(sos, x)
    val out = new Array[Double](n)
    var a = 0
    while (a < n) {
      val b = math.min(n, a + segLen)
      val lo = math.max(0, a - margin)
      val hi = math.min(n, b + margin)
      val y = filtfilt(sos, java.util.Arrays.copyOfRange(x, lo, hi))
      System.arraycopy(y, a - lo, out, a, b - a)
      a = b
    }
    out
  }

  /** Zero-phase forward-backward filtering with odd-reflection padding —
    * scipy sosfiltfilt semantics (padlen = 3 * 2 * nsections, padtype="odd").
    * The reference applies this whole-series, per burst, or per bin
    * (stglib/core/filter.py:60-153); at scale, whole-series filtering runs
    * it once per overlap-save segment: [[filtfiltSegmented]] in one task,
    * Spectra.filterColumns across partitions. */
  def filtfilt(sos: Array[Sos], x: Array[Double]): Array[Double] = {
    if (x.isEmpty) return Array.emptyDoubleArray
    val padlen = math.min(3 * 2 * sos.length, x.length - 1)
    val n = x.length
    // odd extension: 2*x[0] - x[pad..1], x, 2*x[n-1] - x[n-2..]
    val ext = new Array[Double](n + 2 * padlen)
    var i = 0
    while (i < padlen) {
      ext(i) = 2.0 * x(0) - x(padlen - i)
      ext(n + padlen + i) = 2.0 * x(n - 1) - x(n - 2 - i)
      i += 1
    }
    System.arraycopy(x, 0, ext, padlen, n)
    val fwd = sosfilt(sos, ext, ext(0))
    val rev = fwd.reverse
    val bwd = sosfilt(sos, rev, rev(0))
    val out = new Array[Double](n)
    i = 0
    while (i < n) { out(i) = bwd(2 * padlen + n - 1 - (padlen + i)); i += 1 }
    out
  }
}
