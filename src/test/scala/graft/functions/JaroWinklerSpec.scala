package graft.functions

import graft.SharedSpark
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Jaro-Winkler invariants: the classic literature vectors, the 0.7
  * boost-threshold behavior, degenerate inputs, and the SQL registration
  * path evaluating identically to the static kernel. */
class JaroWinklerSpec extends AnyFunSuite with SharedSpark {

  private def jw(a: String, b: String): Double =
    JaroWinkler.compute(UTF8String.fromString(a), UTF8String.fromString(b))

  test("classic literature vectors") {
    assert(math.abs(jw("MARTHA", "MARHTA") - 0.9611111111111111) < 1e-15)
    assert(math.abs(jw("DIXON", "DICKSONX") - 0.8133333333333332) < 1e-15)
    assert(math.abs(jw("DWAYNE", "DUANE") - 0.84) < 1e-15)
    assert(jw("abc", "abc") == 1.0)
    assert(jw("abc", "xyz") == 0.0)
    assert(jw("", "abc") == 0.0)
    assert(jw("a", "a") == 1.0)
  }

  test("boost applies only above the 0.7 jaro threshold") {
    // shared 4-char prefix but low overall similarity: score == plain jaro
    val lo = jw("abcdxxxxxxxxxxxxxxxx", "abcdyyyyyyyyyyyyyyyy")
    // jaro here: m=4, t=0 -> (4/20 + 4/20 + 1)/3 = 0.4666...
    assert(math.abs(lo - (4.0 / 20 + 4.0 / 20 + 1.0) / 3.0) < 1e-15,
      s"boost must not fire below threshold, got $lo")
    // high-similarity pair with shared prefix: boost fires
    val hi = jw("abcdefghij", "abcdefghix")
    assert(hi > 0.9)
  }

  test("transpositions counted (not just matches)") {
    // same chars, swapped middle: fewer than identical score
    assert(jw("abcd", "abdc") < 1.0)
    assert(jw("abcd", "abdc") > 0.8)
  }

  test("SQL function graft_jaro_winkler matches the kernel") {
    val spark = graftExtensionsSession()
    val r = spark.sql(
      "SELECT graft_jaro_winkler('MARTHA', 'MARHTA') AS j").head().getDouble(0)
    assert(r == jw("MARTHA", "MARHTA"))
  }
}
