package graft.kernels

import org.scalatest.funsuite.AnyFunSuite

class WelchSpec extends AnyFunSuite {

  private def sine(n: Int, fs: Double, f0: Double, a: Double): Array[Double] =
    Array.tabulate(n)(i => a * math.sin(2.0 * math.Pi * f0 * i / fs))

  test("Parseval: integrated PSD matches variance for white noise") {
    val rnd = new scala.util.Random(7)
    val x = Array.fill(4096)(rnd.nextGaussian())
    val (f, p) = Welch.psd(x, fs = 2.0, nperseg = 256)
    val df = f(1) - f(0)
    val integrated = p.sum * df
    val variance = {
      val m = x.sum / x.length
      x.map(v => (v - m) * (v - m)).sum / x.length
    }
    // Welch with hann window + overlap is a consistent but biased estimator;
    // ~10% agreement on one realization is the expected envelope
    assert(math.abs(integrated - variance) / variance < 0.1,
      s"integrated=$integrated variance=$variance")
  }

  test("peak frequency is recovered for a pure sine") {
    val (f, p) = Welch.psd(sine(4096, 1.0, 0.1, 1.0), fs = 1.0, nperseg = 256)
    val imax = p.indices.maxBy(p)
    assert(math.abs(f(imax) - 0.1) < 0.004, s"peak at ${f(imax)}")
  }

  test("sine energy: integrated PSD = A^2/2") {
    val a = 0.75
    val (f, p) = Welch.psd(sine(8192, 1.0, 0.125, a), fs = 1.0, nperseg = 256)
    val df = f(1) - f(0)
    val m0 = p.sum * df
    assert(math.abs(m0 - a * a / 2) / (a * a / 2) < 0.01, s"m0=$m0 expected ${a * a / 2}")
  }

  test("monochromatic wave: Hs = 2*sqrt(2)*A from elevation spectra") {
    val a = 0.5
    val e = sine(4096, 2.0, 0.2, a)
    val w = Spectral.waveStatsFromElevation(e, fs = 2.0)
    val expected = 2.0 * math.sqrt(2.0) * a
    assert(math.abs(w.wh4061 - expected) / expected < 0.02,
      s"Hs=${w.wh4061} expected $expected")
    assert(math.abs(w.wpPeak - 5.0) < 0.3, s"Tp=${w.wpPeak} expected 5.0")
  }

  test("nextPow2") {
    assert(Welch.nextPow2(1) == 1 && Welch.nextPow2(2) == 2 &&
      Welch.nextPow2(3) == 4 && Welch.nextPow2(256) == 256 &&
      Welch.nextPow2(257) == 512)
  }
}

class SpectralSpec extends AnyFunSuite {

  test("qkfs satisfies the dispersion relation after 3 Newton iterations") {
    for (t <- Seq(4.0, 6.0, 10.0, 14.0); h <- Seq(2.0, 10.0, 30.0)) {
      val omega = 2.0 * math.Pi / t
      val k = Spectral.qkfs(omega, h)
      val lhs = 9.81 * k * math.tanh(k * h)
      assert(math.abs(lhs - omega * omega) / (omega * omega) < 1e-4,
        s"T=$t h=$h k=$k residual=${lhs - omega * omega}")
    }
  }

  test("deep-water limit: k ~ omega^2/g") {
    val omega = 2.0 * math.Pi / 3.0
    val k = Spectral.qkfs(omega, 100.0)
    assert(math.abs(k - omega * omega / 9.81) / k < 1e-3)
  }

  test("transfer function: Kp=1 at surface-equal depth, decays with k") {
    assert(math.abs(Spectral.transferKp(0.0, 10.0, 0.5) - 1.0) < 1e-12)
    assert(Spectral.transferKp(Double.NaN, 10.0, 0.5) == 1.0)
    val kp1 = Spectral.transferKp(0.1, 10.0, 0.5)
    val kp2 = Spectral.transferKp(0.5, 10.0, 0.5)
    assert(kp1 > kp2 && kp2 > 0.0 && kp1 < 1.0)
  }

  test("f^-4 tail continuity and decay") {
    val f = Array(0.1, 0.2, 0.3, 0.4)
    val pnn = Array(1.0, 2.0, 3.0, 4.0)
    val out = Spectral.makeTail(f, pnn, 2)
    assert(out(0) == 1.0 && out(1) == 2.0 && out(2) == 3.0)
    assert(math.abs(out(3) - 3.0 * math.pow(0.4 / 0.3, -4)) < 1e-12)
    assert(Spectral.makeTail(f, pnn, -1).forall(_.isNaN))
  }

  test("trapezoid moment of constant spectrum") {
    val f = Array(0.0, 0.1, 0.2, 0.3)
    val pnn = Array(2.0, 2.0, 2.0, 2.0)
    assert(math.abs(Spectral.moment(f, pnn, 0) - 0.6) < 1e-12)
  }

  test("define_cutoff: white spectrum has no valid tail (NaN branch)") {
    val f = Array.tabulate(65)(i => i * 0.5 / 64)
    val pxx = Array.fill(65)(1.0)
    val kp = Array.fill(65)(1.0)
    val (tailind, _, _, _) = Spectral.defineCutoff(f, pxx, kp)
    assert(tailind == -1) // noisecut=12*mean > all values → noisecutind=0
  }
}

class ButterworthSpec extends AnyFunSuite {
  import Butterworth._

  test("segmented filtfilt == single-pass to 1e-12 on 1e6 samples") {
    val sos = lowpass(4, 0.05, 1.0)
    val n = 1000000
    // deterministic multi-tone + pseudo-noise series
    val x = Array.tabulate(n)(i =>
      10.0 + 0.5 * math.sin(2 * math.Pi * 0.002 * i) +
        0.2 * math.sin(2 * math.Pi * 0.11 * i) +
        ((i * 2654435761L % 1000) - 500) / 5000.0)
    val single = filtfilt(sos, x)
    val seg = filtfiltSegmented(sos, x, segLen = 65536)
    var maxDiff = 0.0
    var i = 0
    while (i < n) {
      val d = math.abs(seg(i) - single(i)); if (d > maxDiff) maxDiff = d
      i += 1
    }
    assert(maxDiff < 1e-12, s"max segment-boundary error $maxDiff")
    // uneven tail segment too
    val seg2 = filtfiltSegmented(sos, x, segLen = 12345)
    assert((0 until n).forall(i => math.abs(seg2(i) - single(i)) < 1e-12))
  }

  test("marginFor scales with pole radius and floors at the scipy padlen") {
    val sos = lowpass(4, 0.05, 1.0)
    val r = poleRadius(sos)
    assert(r > 0 && r < 1, s"pole radius $r")
    assert(marginFor(sos) >= 3 * 2 * sos.length)
    // sharper filter (cutoff closer to 0) -> slower decay -> bigger margin
    assert(marginFor(lowpass(4, 0.005, 1.0)) > marginFor(sos))
  }

  test("an empty series filters to an empty series, single-pass and segmented") {
    val sos = lowpass(4, 0.05, 1.0)
    assert(filtfilt(sos, Array.empty[Double]).isEmpty)
    assert(filtfiltSegmented(sos, Array.empty[Double], segLen = 65536).isEmpty)
  }

  test("lowpass filtfilt preserves DC exactly") {
    val sos = lowpass(4, 0.05, 1.0)
    val x = Array.fill(500)(3.7)
    val y = filtfilt(sos, x)
    assert(y.forall(v => math.abs(v - 3.7) < 1e-9))
  }

  test("lowpass attenuates high frequency, passes low frequency") {
    val sos = lowpass(4, 0.05, 1.0)
    val n = 2000
    val lo = Array.tabulate(n)(i => math.sin(2 * math.Pi * 0.01 * i))
    val hi = Array.tabulate(n)(i => math.sin(2 * math.Pi * 0.3 * i))
    val yLo = filtfilt(sos, lo).slice(200, n - 200)
    val yHi = filtfilt(sos, hi).slice(200, n - 200)
    val ampLo = yLo.map(math.abs).max
    val ampHi = yHi.map(math.abs).max
    assert(ampLo > 0.95, s"low-frequency amplitude $ampLo")
    assert(ampHi < 0.01, s"high-frequency amplitude $ampHi")
  }

  test("zero phase: slow sine peak position unchanged") {
    val sos = lowpass(4, 0.1, 1.0)
    val n = 1000
    val x = Array.tabulate(n)(i => math.sin(2 * math.Pi * 0.01 * i))
    val y = filtfilt(sos, x)
    // zero-phase + unity passband gain → output ≈ input (any phase lag would
    // show up as a large pointwise difference on a slow sine)
    val maxDiff = (200 until 800).map(i => math.abs(y(i) - x(i))).max
    assert(maxDiff < 0.02, s"max pointwise diff $maxDiff")
  }

  test("highpass removes DC, passes fast oscillation") {
    val sos = highpass(4, 0.05, 1.0)
    val n = 2000
    val x = Array.tabulate(n)(i => 5.0 + math.sin(2 * math.Pi * 0.3 * i))
    val y = filtfilt(sos, x).slice(200, n - 200)
    val mean = y.sum / y.length
    assert(math.abs(mean) < 0.01, s"residual DC $mean")
    assert(y.map(math.abs).max > 0.95)
  }

  test("bandpass keeps mid band only") {
    val sos = bandpass(4, 0.05, 0.15, 1.0)
    val n = 4000
    def amp(f0: Double): Double = {
      val x = Array.tabulate(n)(i => math.sin(2 * math.Pi * f0 * i))
      filtfilt(sos, x).slice(400, n - 400).map(math.abs).max
    }
    assert(amp(0.1) > 0.9)
    assert(amp(0.01) < 0.05)
    assert(amp(0.4) < 0.05)
  }

  test("bandpass edges at exactly -3 dB (true lp2bp transform, not a cascade)") {
    // scipy butter(btype='bandpass') yields |H| = 1/sqrt(2) at both pre-warped
    // band edges; the hp∘lp cascade puts ~-6 dB there instead
    val (flo, fhi, fs) = (0.05, 0.15, 1.0)
    val sos = bandpass(4, flo, fhi, fs)
    def mag(f: Double): Double = {
      val w = 2 * math.Pi * f / fs
      val (zr, zi) = (math.cos(-w), math.sin(-w))    // z^-1
      val (z2r, z2i) = (math.cos(-2 * w), math.sin(-2 * w)) // z^-2
      sos.map { s =>
        val nr = s.b0 + s.b1 * zr + s.b2 * z2r
        val ni = s.b1 * zi + s.b2 * z2i
        val dr = 1.0 + s.a1 * zr + s.a2 * z2r
        val di = s.a1 * zi + s.a2 * z2i
        math.sqrt((nr * nr + ni * ni) / (dr * dr + di * di))
      }.product
    }
    assert(math.abs(mag(flo) - 1.0 / math.sqrt(2)) < 1e-9, s"|H(flo)|=${mag(flo)}")
    assert(math.abs(mag(fhi) - 1.0 / math.sqrt(2)) < 1e-9, s"|H(fhi)|=${mag(fhi)}")
    assert(math.abs(mag(math.sqrt(flo * fhi)) - 1.0) < 0.02) // ≈1 near center
    // 2n poles: order-4 prototype → 4 second-order sections
    assert(sos.length == 4)
  }
}

class CutoffSpec extends AnyFunSuite {
  test("define_cutoff picks a valid tail on a red (decaying) spectrum") {
    // red spectrum: energy peak at low f, monotone decay to a noise floor
    val n = 65
    val f = Array.tabulate(n)(i => i * 1.0 / (2 * (n - 1)))
    val pxx = Array.tabulate(n)(i => 1.0 / (1.0 + math.pow(i / 4.0, 3)) + 1e-6)
    val kp = Array.tabulate(n)(i => math.max(1e-3, 1.0 - i / 40.0))
    val (tailind, noisecutind, fpeakcutind, kpcutind) = Spectral.defineCutoff(f, pxx, kp)
    assert(tailind > 0, s"tailind=$tailind noise=$noisecutind fpeak=$fpeakcutind kp=$kpcutind")
    assert(tailind == math.min(noisecutind, kpcutind) || tailind == noisecutind)
    // stats are finite through the tail
    val pspec = Spectral.makeTail(f, pxx, tailind)
    val m0 = Spectral.moment(f, pspec, 0)
    assert(!m0.isNaN && m0 > 0)
  }

  test("user cutoff: fcut selects first index at/above fcut") {
    val f = Array(0.0, 0.1, 0.2, 0.3)
    assert(Spectral.userCutoff(f, Array.fill(4)(1.0), Some(0.15), None) == 2)
    assert(Spectral.userCutoff(f, Array(1.0, 0.5, 0.2, 0.05), None, Some(0.3)) == 2)
  }
}

/** Golden cross-validation against numpy: PSD values computed by an
  * independent numpy implementation (same LCG-deterministic signal; the
  * generator is inline below) must match to double precision. */
class WelchGoldenSpec extends AnyFunSuite {
  test("PSD matches numpy rfft implementation on a deterministic signal") {
    var s = 123456789L
    def nxt(): Double = {
      s = s * 6364136223846793005L + 1442695040888963407L
      (s >>> 11).toDouble / (1L << 53).toDouble
    }
    val x = Array.tabulate(2048)(i => math.sin(2 * math.Pi * 0.08 * i) + 0.3 * nxt())
    val (_, p) = Welch.psd(x, fs = 1.0, nperseg = 256)
    val golden = Seq(
      0 -> 0.02677368539376733, 1 -> 0.0336915098227617,
      10 -> 0.017928943164938427, 20 -> 63.11353118659905,
      21 -> 59.739440188413575, 32 -> 0.015211696433462494,
      64 -> 0.010775850970326128, 100 -> 0.017827647510681232,
      128 -> 0.005190188585135278)
    for ((i, expect) <- golden)
      assert(math.abs(p(i) - expect) / expect < 1e-10,
        s"bin $i: ${p(i)} vs numpy $expect")
  }
}
