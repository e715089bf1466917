package graft.cli

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

/** Fourth real-artifact reproduction: the vendor's own BEAM↔ENU
  * coordinate-transform reference script shipped in the reference repo
  * (`examples/Transform.m` — the published Nortek transform recipe the
  * reference's aqdutils implements). The transformation matrix `T` for a
  * standard Aquadopp head is PARSED FROM THE REAL FILE's bytes, not
  * restated, and [[RunOts.aqdCoordTransform]] must reproduce
  * `R·beam = H·P·T·beam` — including the script's two sign conventions
  * that are the classic porting bugs:
  *  - the heading matrix runs on (heading − 90)°;
  *  - DOWN orientation negates rows 2 and 3 of T before composing.
  * The expected side is computed with plain scalar math straight off the
  * script's formulas; a convention drift in either H, P, or the row
  * flips fails at 1e-12. */
class RealTransformSpec extends AnyFunSuite with SharedSpark {

  private val path = "/root/reference/examples/Transform.m"

  private def parseT(): Array[Array[Double]] = {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "US-ASCII")
    val body = raw"T\s*=\s*\[([^\]]+)\]".r.findFirstMatchIn(text)
      .getOrElse(fail("no T matrix in Transform.m")).group(1)
    val nums = body.replace("...", " ").split("[;,\\s]+").filter(_.nonEmpty)
      .map(_.toDouble)
    assert(nums.length == 9, s"expected 9 matrix entries, got ${nums.length}")
    nums.grouped(3).map(_.map(_ / 4096.0)).toArray // the script's own scaling
  }

  private def mul(a: Array[Array[Double]], b: Array[Array[Double]]) =
    Array.tabulate(3, 3)((i, j) => (0 until 3).map(k => a(i)(k) * b(k)(j)).sum)

  private def apply3(m: Array[Array[Double]], v: Array[Double]) =
    Array.tabulate(3)(i => (0 until 3).map(k => m(i)(k) * v(k)).sum)

  /** R = H·P·T per the script, with its (heading−90) and DOWN-row-flip
    * conventions. */
  private def vendorR(t0: Array[Array[Double]], headingDeg: Double,
                      pitchDeg: Double, rollDeg: Double,
                      down: Boolean): Array[Array[Double]] = {
    val t = if (down) Array(t0(0), t0(1).map(-_), t0(2).map(-_)) else t0
    val hh = math.toRadians(headingDeg - 90)
    val pp = math.toRadians(pitchDeg)
    val rr = math.toRadians(rollDeg)
    val h = Array(
      Array(math.cos(hh), math.sin(hh), 0.0),
      Array(-math.sin(hh), math.cos(hh), 0.0),
      Array(0.0, 0.0, 1.0))
    val p = Array(
      Array(math.cos(pp), -math.sin(pp) * math.sin(rr), -math.cos(rr) * math.sin(pp)),
      Array(0.0, math.cos(rr), -math.sin(rr)),
      Array(math.sin(pp), math.sin(rr) * math.cos(pp), math.cos(pp) * math.cos(rr)))
    mul(mul(h, p), t)
  }

  test("aqdCoordTransform reproduces the vendor script's R·beam, UP and DOWN") {
    assume(new java.io.File(path).isFile)
    import spark.implicits._
    val t = parseT()
    // the script's canonical head: T = [2896 2896 0; -2896 2896 0;
    // -2896 -2896 5792] / 4096
    assert(math.abs(t(0)(0) - 2896.0 / 4096) < 1e-15)
    assert(math.abs(t(2)(2) - 5792.0 / 4096) < 1e-15)
    // the script's example beam vector, arbitrary non-trivial attitude
    val beam = Array(0.23, -0.52, 0.12)
    val (hd, pt, rl) = (37.3, -2.4, 1.2)
    for (down <- Seq(false, true)) {
      val meta = graft.core.Meta(Map(
        "AQDCoordinateSystem" -> "BEAM",
        "AQDTransMatrix" -> t.flatten.mkString(","),
        "orientation" -> (if (down) "DOWN" else "UP")))
      val df = Seq((beam(0), beam(1), beam(2), hd, pt, rl))
        .toDF("VEL1", "VEL2", "VEL3", "heading", "pitch", "roll")
      val out = RunOts.aqdCoordTransform(df, meta).collect()(0)
      val exp = apply3(vendorR(t, hd, pt, rl, down), beam)
      for ((c, i) <- Seq("u_1205", "v_1206", "w_1204").zipWithIndex)
        assert(math.abs(out.getAs[Double](c) - exp(i)) < 1e-12,
          s"$c (down=$down): got ${out.getAs[Double](c)}, want ${exp(i)}")
    }
  }
}
