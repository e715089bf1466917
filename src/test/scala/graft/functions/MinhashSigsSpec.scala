package graft.functions

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The one-pass MinHash kernel must be BITWISE identical to the SQL
  * pipeline (charShingles explode → shingleKey pack → k min-aggregates),
  * including the row-set and null semantics: every doc keeps a signature
  * row, null text yields all-null mins. The LSH oracles replay the SQL
  * form in DuckDB, so one divergent min silently changes candidate
  * bands. */
class MinhashSigsSpec extends AnyFunSuite with SharedSpark {

  private def edgeDf = {
    import spark.implicits._
    (Seq(
      (1L, Some("hello world")),
      (2L, Some("")),
      (3L, Some("a")),
      (4L, Some("ab")),
      (5L, Some("abc")),
      (6L, Some("aaaaaaa")),          // heavy duplicate shingles
      (7L, Some("école 東京 💩 𐍈")),  // multibyte + astral
      (8L, Some("  spaces  inside  ")),
      (9L, None),
      (10L, Some("x" * 3000))
    ) ++ (0 until 300).map(i => (50L + i, Some(s"document body $i with text ${i * 13}"))))
      .toDF("doc_id", "text")
  }

  private def corpus = spark.read
    .parquet("/root/testdata/sf0.01/documents.parquet")
    .select(col("doc_id"), col("text"))

  private def assertSame(df: org.apache.spark.sql.DataFrame, k: Int): Unit = {
    val a = graft.ops.Dedup.wideSignatures(df, "doc_id", "text", k)
    val b = graft.ops.Dedup.wideSignaturesSql(df, "doc_id", "text", k)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
      s"numHashes=$k")
  }

  test("kernel == SQL form on edge cases, 16 and 5 hashes") {
    assertSame(edgeDf, 16)
    assertSame(edgeDf, 5)
  }

  test("kernel == SQL form on the real corpus") {
    assertSame(corpus, 16)
  }

  test("every doc keeps its signature row; null text gives null mins") {
    val out = graft.ops.Dedup.wideSignatures(edgeDf, "doc_id", "text", 4)
    assert(out.count() == edgeDf.count())
    val r9 = out.filter(col("doc_id") === 9L).collect()(0)
    assert((1 to 4).forall(r9.isNullAt))
    val r2 = out.filter(col("doc_id") === 2L).collect()(0)
    assert((1 to 4).forall(i => !r2.isNullAt(i)))
  }
}
