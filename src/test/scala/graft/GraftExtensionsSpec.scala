package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The extensions class must register the native expressions as SQL
  * functions in a fresh session configured only via spark.sql.extensions
  * (the shared-cluster deployment path — no driver code). */
class GraftExtensionsSpec extends AnyFunSuite with SharedSpark {

  // spark.sql.extensions is a STATIC conf, fixed when the JVM's first
  // session is built, so the config-string path can only be exercised in a
  // fresh JVM (it is, via spark-submit in real deployments).
  // builder.withExtensions applies the same injection logic at session
  // construction regardless of JVM history.
  override lazy val spark: SparkSession = graftExtensionsSession()

  test("graft_dot and graft_sorted_intersect resolve and evaluate from SQL") {
    val r = spark.sql(
      """SELECT graft_dot(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d,
        |       graft_sorted_intersect(array(1L, 3L, 5L, 9L),
        |                              array(3L, 4L, 9L, 11L)) AS n""".stripMargin)
      .head()
    assert(r.getDouble(0) == 32.0)
    assert(r.getLong(1) == 2L)
  }

  test("graft_int_dot / graft_nfc / graft_quality / graft_dup_ngram_frac " +
       "resolve and evaluate from SQL") {
    val r = spark.sql(
      """SELECT graft_int_dot(array(1, 2, 3), array(4, 5, 6)) AS d,
        |       graft_nfc('plain') AS s,
        |       graft_quality('') AS q,
        |       graft_dup_ngram_frac('a a a a a', 3) AS f""".stripMargin)
      .head()
    assert(r.getLong(0) == 32L)
    assert(r.getString(1) == "plain")
    assert(r.getDouble(2) == 0.2)
    assert(r.getDouble(3) == 2.0 / 3.0)
  }

  test("graft_word_ngrams / graft_adjacent_pairs / graft_shingle_keys3 " +
       "resolve and evaluate from SQL") {
    val r = spark.sql(
      """SELECT graft_word_ngrams('a b c', 2) AS g,
        |       graft_adjacent_pairs('a b c') AS p,
        |       graft_shingle_keys3('abc') AS s""".stripMargin).head()
    assert(r.getSeq[String](0) == Seq("a b", "b c"))
    assert(r.getSeq[org.apache.spark.sql.Row](1).map(x =>
      (x.getString(0), x.getString(1))) == Seq(("a", "b"), ("b", "c")))
    assert(r.getSeq[Long](2) ==
      Seq('a'.toLong * 65536 + 'b'.toLong * 256 + 'c'.toLong))
  }

  test("n-gram size argument contract: BIGINT literal accepted, NULL and " +
       "non-foldable rejected with a clear analysis error") {
    // integral literal of any width converts via Number.intValue
    val ok = spark.sql(
      "SELECT graft_dup_ngram_frac('a a a a a', CAST(3 AS BIGINT)) AS f")
      .head().getDouble(0)
    assert(ok == 2.0 / 3.0)
    val eNull = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_word_ngrams('a b c', NULL)").collect()
    }
    assert(eNull.getMessage.contains("graft_word_ngrams"))
    assert(eNull.getMessage.contains("NULL"))
    val eCol = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_dup_ngram_frac(t, n) FROM VALUES ('a b', 2) v(t, n)")
        .collect()
    }
    assert(eCol.getMessage.contains("non-foldable"))
  }

  test("SQL null-text semantics match the Column API (coalesced forms)") {
    // the Column wrappers fold null text to 0.0 / array(); the SQL
    // registration must agree — a SQL-only deployment reproducing a
    // pipeline otherwise diverges on null rows
    val r = spark.sql(
      """SELECT graft_dup_ngram_frac(CAST(NULL AS STRING), 3) AS f,
        |       graft_word_ngrams(CAST(NULL AS STRING), 2) AS g""".stripMargin)
      .head()
    assert(r.getDouble(0) == 0.0)
    assert(r.getSeq[String](1) == Seq.empty)
  }

  test("mistyped array arguments fail or coerce at analysis time") {
    // array<bigint> into the int kernel coerces through an explicit
    // element-wise Cast node: the values are genuinely converted, never
    // read at the wrong element stride (the old always-succeed
    // checkInputDataTypes let getInt read 4-byte halves of 8-byte slots —
    // this exact query then returned 3, not 11)
    val v = spark.sql("SELECT graft_int_dot(array(1L, 2L), array(3L, 4L)) AS d")
      .head().getLong(0)
    assert(v == 11L)
    // array<int> into the double kernel widens implicitly and evaluates
    val d = spark.sql("SELECT graft_dot(array(1, 2), array(3, 4)) AS d")
      .head().getDouble(0)
    assert(d == 11.0)
    // non-array arguments are an analysis error, not a runtime cast crash
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_sorted_intersect('ab', 'cd')").collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_int_dot(map(1, 2), map(3, 4))").collect()
    }
  }

  test("SQL function results match the typed Column API") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((Array(0.5, -1.5, 2.0), Array(4.0, 2.0, 0.25)))
      .toDF("a", "b")
    val viaSql = df.selectExpr("graft_dot(a, b)").head().getDouble(0)
    val viaApi = df.select(graft.functions.ArrayMath.dot(col("a"), col("b")))
      .head().getDouble(0)
    assert(viaSql == viaApi)
  }
}
