package graft.ops

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

/** Perceptual-fingerprint harnesses (dHash, scene cut, audio fingerprint):
  * each is recomputed here from the synthesis rule alone — independent of
  * the codec + signature code under test, the same way the DuckDB oracles
  * recompose them in SQL. */
class FingerprintSpec extends AnyFunSuite with SharedSpark {
  private def ids(n: Int) = {
    import spark.implicits._
    (0L until n.toLong).toDF("doc_id")
  }

  test("dhash64 matches a from-scratch recomputation of the synthesis rule") {
    val (w, h) = (5, 4)
    val got = Multimodal.dhashRoundTrip(ids(8), "doc_id", w, h)
      .collect().map(r => r.media_id -> r).toMap
    for (id <- 0L until 8L) {
      val g = Array.tabulate(8, 9) { (y, x) =>
        val sx = x * w / 9; val sy = y * h / 8
        def v(c: Int) = ((id * 7 + sx * 3 + sy * 11 + c * 5) % 256).toInt
        (v(0) * 299 + v(1) * 587 + v(2) * 114) / 1000
      }
      var hi = 0L; var lo = 0L
      for (i <- 0 until 64) {
        val (yy, xx) = (i / 8, i % 8)
        if (g(yy)(xx + 1) > g(yy)(xx)) {
          if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
        }
      }
      val r = got(id)
      assert(r.dhash_hi == hi && r.dhash_lo == lo, s"id=$id hash mismatch")
      assert(r.n_bits ==
        java.lang.Long.bitCount(hi) + java.lang.Long.bitCount(lo))
    }
  }

  test("scene cut flags exactly the planted boundary, with exact diff mass") {
    val (w, h, nF, cutF, jump) = (6, 4, 4, 2, 100)
    val rows = Multimodal.sceneCutRoundTrip(ids(6), "doc_id", w, h, nF, cutF,
      jump, threshold = 7000L).collect()
    assert(rows.length == 6 * (nF - 1))
    for (r <- rows) {
      def frame(f: Int) = Array.tabulate(h * w * 3) { i =>
        val c = i % 3; val x = (i / 3) % w; val y = i / (3 * w)
        val off = f * 13 + (if (f >= cutF) jump else 0)
        ((r.media_id * 7 + off + x * 3 + y * 11 + c * 5) % 256).toInt
      }
      val expect = frame(r.frame_idx).zip(frame(r.frame_idx - 1))
        .map { case (a, b) => math.abs(a - b).toLong }.sum
      assert(r.sum_abs_diff == expect, s"id=${r.media_id} f=${r.frame_idx}")
      assert(r.is_cut == (r.frame_idx == cutF))
    }
  }

  test("scene cut rejects aliasing jumps and exterior cut frames") {
    // (13 + 243) % 256 == 0 gives per-pixel diffs {0, 256} ≡ the ordinary
    // advance's complement class — undetectable by diff mass
    intercept[IllegalArgumentException] {
      Multimodal.sceneCutRoundTrip(ids(1), "doc_id", 4, 2, 4, 2, 0, 100L)
    }
    intercept[IllegalArgumentException] {
      Multimodal.sceneCutRoundTrip(ids(1), "doc_id", 4, 2, 4, 0, 100, 100L)
    }
    intercept[IllegalArgumentException] {
      Multimodal.sceneCutRoundTrip(ids(1), "doc_id", 4, 2, 4, 4, 100, 100L)
    }
  }

  test("audio fingerprint matches a from-scratch fixed-point recomputation") {
    val nFrames = 4; val n = 32 * nFrames
    val trig = Multimodal.fingerprintTrig(32)
    val got = Multimodal.audioFingerprintRoundTrip(ids(4), "doc_id", nFrames,
      sampleRate = 8000).collect().map(r => (r.media_id, r.frame_idx) -> r.fp)
      .toMap
    for (id <- 0L until 4L) {
      val pcm = Array.tabulate(n)(i =>
        ((id * 37 + i.toLong * i * 17 + i * 5) % 4096) - 2048)
      val e = Array.ofDim[Long](nFrames, 8)
      for (f <- 0 until nFrames; k <- 1 to 16) {
        var re = 0L; var im = 0L
        for (t <- 0 until 32) {
          val m = (k * t) % 32
          re += pcm(f * 32 + t) * trig(m)._2
          im += pcm(f * 32 + t) * trig(m)._3
        }
        e(f)((k - 1) / 2) += re * re + im * im
      }
      for (f <- 1 until nFrames) {
        var fp = 0
        for (b <- 0 until 7)
          if ((e(f)(b) - e(f)(b + 1)) - (e(f - 1)(b) - e(f - 1)(b + 1)) > 0)
            fp |= 1 << b
        assert(got((id, f)) == fp, s"id=$id f=$f")
      }
    }
  }

  test("fingerprint trig table is the StrictMath fixed-point unit circle") {
    val t = Multimodal.fingerprintTrig(32)
    assert(t(0) == ((0, 1024L, 0L)))
    assert(t(8) == ((8, 0L, 1024L)))  // cos(pi/2)=0, sin=1
    assert(t(16) == ((16, -1024L, 0L)))
    // symmetry: sin(m) == -sin(N-m), cos(m) == cos(N-m)
    for (m <- 1 until 32) {
      assert(t(m)._2 == t(32 - m)._2)
      assert(t(m)._3 == -t(32 - m)._3)
    }
  }
}
