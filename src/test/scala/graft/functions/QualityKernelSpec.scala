package graft.functions

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The single-pass text kernels must be BITWISE-identical to the HOF
  * Column formulations they replace — on the real test corpus and on the
  * edge shapes (empty, space-only, multi-space runs, multi-byte UTF-8,
  * sub-n token counts, nulls). A 1-ulp divergence here would silently
  * split the Spark results from the DuckDB oracles. */
class QualityKernelSpec extends AnyFunSuite with SharedSpark {

  private val TA = graft.ops.TextAnalysis

  private def edgeDf = {
    import spark.implicits._
    Seq(
      Some(""), Some(" "), Some("   "), Some("one"),
      Some("a b"), Some("a  b   c"), Some("a a a a a a"),
      Some("x y x y x y x y"), Some("a b c a b c a b c d"),
      Some("tok " * 150), Some("verylongtoken " * 40),
      Some(("école 東京 💩 " * 30).trim),
      Some("ends with spaces   "), Some("   starts with spaces"),
      None
    ).toDF("text")
  }

  private def corpus = spark.read
    .parquet("/root/testdata/sf0.01/documents.parquet").select("text")

  test("qualityScore kernel == HOF form, bitwise, corpus + edges") {
    for (df <- Seq(edgeDf, corpus)) {
      val bad = df.select(
          TA.qualityScore(col("text")).as("k"),
          TA.qualityScoreHof(col("text")).as("h"))
        .filter(!(col("k") <=> col("h"))).count()
      assert(bad == 0)
    }
  }

  test("repetitionFraction kernel == HOF form, bitwise, corpus + edges") {
    for (df <- Seq(edgeDf, corpus); n <- Seq(2, 3, 4)) {
      val bad = df.select(
          TA.repetitionFraction(col("text"), n).as("k"),
          TA.duplicateNgramFraction(TA.tokens(col("text")), n).as("h"))
        .filter(!(col("k") <=> col("h"))).count()
      assert(bad == 0, s"n=$n")
    }
  }

  test("textNgrams kernel == HOF wordNgrams(tokens(text)), corpus + edges") {
    for (df <- Seq(edgeDf, corpus); n <- Seq(2, 3, 4)) {
      val bad = df.select(
          TA.textNgrams(col("text"), n).as("k"),
          coalesce(TA.wordNgrams(TA.tokens(col("text")), n),
            array().cast("array<string>")).as("h"))
        .filter(!(col("k") <=> col("h"))).count()
      assert(bad == 0, s"n=$n")
    }
  }

  test("adjacentPairs kernel == HOF transform form, corpus + edges") {
    for (df <- Seq(edgeDf, corpus)) {
      val hof = expr(
        """CASE WHEN size(filter(split(text, ' '), t -> length(t) > 0)) >= 2
          |THEN transform(
          |  sequence(1, size(filter(split(text, ' '), t -> length(t) > 0)) - 1),
          |  i -> struct(
          |    element_at(filter(split(text, ' '), t -> length(t) > 0), i) AS w1,
          |    element_at(filter(split(text, ' '), t -> length(t) > 0), i + 1) AS w2))
          |ELSE array() END""".stripMargin)
      // the kernel null-propagates (explode treats null and array()
      // identically, so the query is unaffected) — null the HOF side too
      val bad = df.select(
          graft.functions.AdjacentWordPairs(col("text")).as("k"),
          when(col("text").isNotNull, hof)
            .cast("array<struct<w1:string,w2:string>>").as("h"))
        .filter(!(col("k") <=> col("h"))).count()
      assert(bad == 0)
    }
  }

  test("shingleKeys3 kernel == SQL nested-transform form, corpus + edges") {
    // null text: the SQL form accidentally yields [null] (greatest(null,1)
    // = 1 keeps the sequence alive and the pack nulls out); the kernel
    // null-propagates — the cleaner contract, and no corpus carries null
    // texts. Non-null rows must agree exactly.
    for (df <- Seq(edgeDf.filter(col("text").isNotNull), corpus)) {
      val bad = df.select(
          graft.functions.ShingleKeys3(col("text")).as("k"),
          graft.ops.Dedup.shingleKeys3Hof("text").as("h"))
        .filter(!(col("k") <=> col("h"))).count()
      assert(bad == 0)
    }
    val nullRow = edgeDf.filter(col("text").isNull)
      .select(graft.functions.ShingleKeys3(col("text")).as("k"))
    assert(nullRow.head().isNullAt(0))
  }

  test("kernel static values on known shapes") {
    assert(TextKernels.dupNgramFraction(UTF8String.fromString("a a a a a"), 3)
      == 2.0 / 3.0) // grams: "a a a" x3 -> total 3, distinct 1
    assert(TextKernels.dupNgramFraction(UTF8String.fromString("a b"), 3) == 0.0)
    assert(TextKernels.dupNgramFraction(UTF8String.fromString(""), 3) == 0.0)
    // 250-char doc, all 5-char tokens: lenScore 1.0, mtl 5 -> 1.0
    val good = ("abcde " * 42).trim.take(250)
    assert(TextKernels.qualityScore(UTF8String.fromString(good)) == 1.0)
    // empty doc: lenScore 0.0, no tokens -> mtl band 0.5
    assert(TextKernels.qualityScore(UTF8String.fromString("")) == 0.2)
  }
}
