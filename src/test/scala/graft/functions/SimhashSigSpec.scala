package graft.functions

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The one-pass SimHash kernel must be BITWISE-identical to the SQL
  * pipeline it replaces (explode(split) → 4-codepoint pack → per-bit
  * hashAbModP sums → majority vote), including its row-set semantics:
  * token-free documents (null / empty / all-space text) produce NO
  * signature row. Every simhash oracle replays the SQL form in DuckDB,
  * so a 1-bit divergence silently splits pair sets. */
class SimhashSigSpec extends AnyFunSuite with SharedSpark {

  private def edgeDf = {
    import spark.implicits._
    (Seq(
      (1L, Some("hello world")),
      (2L, Some("")),
      (3L, Some("   ")),
      (4L, Some("a")),
      (5L, Some("multi  space   runs")),
      (6L, Some("tab\there and\nnewline stay-in-token")),
      (7L, Some("école 東京 日本語のテキスト")),
      (8L, Some("emoji 💩🎉 mixed ascii")),
      (9L, Some("𐍈 gothic astral-plane 𝔘𝔫𝔦")),
      (10L, None),
      (11L, Some("x")),
      (12L, Some((0 until 800).map(i => s"tok_$i").mkString(" "))),
      (13L, Some(" leading and trailing ")),
      (14L, Some("ab cd ef gh ij kl mn op"))
    ) ++ (0 until 300).map(i => (100L + i, Some(s"doc $i body with words $i ${i * 7}"))))
      .toDF("doc_id", "text")
  }

  private def corpus = spark.read
    .parquet("/root/testdata/sf0.01/documents.parquet")
    .select(col("doc_id"), col("text"))

  private def assertSame(df: org.apache.spark.sql.DataFrame, numBits: Int): Unit = {
    val k = graft.ops.Dedup.simhash(df, "doc_id", "text", numBits)
    val s = graft.ops.Dedup.simhashSql(df, "doc_id", "text", numBits)
    assert(k.exceptAll(s).count() == 0 && s.exceptAll(k).count() == 0,
      s"numBits=$numBits")
  }

  test("kernel == SQL form on edge cases, 16 and 63 bits") {
    assertSame(edgeDf, 16)
    assertSame(edgeDf, 63)
  }

  test("kernel == SQL form on the real corpus") {
    assertSame(corpus, 16)
  }

  test("interpreted eval agrees with the dataframe (codegen) path") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    val viaDf = edgeDf.select(col("doc_id"),
        Simhash.simhashSig(col("text"), 16).as("sig"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else java.lang.Long.valueOf(r.getLong(1)))).toMap
    for (r <- edgeDf.collect()) {
      val id = r.getLong(0)
      val t = if (r.isNullAt(1)) null
        else UTF8String.fromString(r.getString(1))
      val interp = SimhashSigExpr(Literal(t,
        org.apache.spark.sql.types.StringType), 16).eval(null)
      assert(interp == viaDf(id), s"doc_id=$id")
    }
  }

  test("token-free docs are dropped, not nulled") {
    val out = graft.ops.Dedup.simhash(edgeDf, "doc_id", "text", 16)
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(2L) && !ids.contains(3L) && !ids.contains(10L))
    assert(ids.contains(1L) && ids.contains(11L))
  }
}
