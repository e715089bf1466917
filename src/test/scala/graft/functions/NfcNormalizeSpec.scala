package graft.functions

import graft.SharedSpark
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** NFC invariants: canonical composition, the ASCII identity fast path
  * (same object back, no re-encode), compatibility ligatures NOT folded
  * (that would be NFKC), idempotence, and the Column registration path
  * evaluating identically to the static kernel. All non-ASCII inputs are
  * built from explicit \u escapes so source encoding can never
  * pre-normalize them. */
class NfcNormalizeSpec extends AnyFunSuite with SharedSpark {

  private def nfc(s: String): String =
    NfcNormalize.compute(UTF8String.fromString(s)).toString

  // decomposed / precomposed pairs, built from code points
  private val decomposedA = "A\u0300"      // A + combining grave
  private val composedA = "\u00C0"         // precomposed A-grave
  private val decomposedEcole = "e\u0301cole"
  private val composedEcole = "\u00E9cole"

  test("canonical composition: combining marks compose") {
    assert(nfc(decomposedA) == composedA)
    assert(nfc(decomposedEcole) == composedEcole)
    // already-composed input is unchanged
    assert(nfc(composedEcole) == composedEcole)
  }

  test("compatibility characters are NOT folded (NFC, not NFKC)") {
    assert(nfc("\uFB01n") == "\uFB01n") // fi ligature survives NFC
    assert(nfc("\u2460") == "\u2460")   // circled digit one survives
  }

  test("ASCII fast path returns the input instance untouched") {
    val in = UTF8String.fromString("plain ascii text 123")
    assert(NfcNormalize.compute(in) eq in)
  }

  test("idempotent and stable on CJK/emoji") {
    val cases = Seq("\u6771\u4EAC", "caf\u00E9 \uD83D\uDCA9", "",
      "mixed \u00E9 and e\u0301")
    for (s <- cases) {
      val once = nfc(s)
      assert(nfc(once) == once)
    }
  }

  test("Column path equals the static kernel, nulls propagate") {
    import spark.implicits._
    val df = Seq(Some(decomposedEcole), Some("plain"), None)
      .toDF("t")
      .select(NfcNormalize(org.apache.spark.sql.functions.col("t")).as("n"))
    val got = df.collect().map(r => if (r.isNullAt(0)) null else r.getString(0))
    assert(got.toSeq == Seq(composedEcole, "plain", null))
  }
}
