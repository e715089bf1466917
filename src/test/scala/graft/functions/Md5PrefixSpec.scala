package graft.functions

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The codegen md5-prefix kernel must be BITWISE-identical to the SQL
  * form `CAST(conv(substring(md5(s), 1, n), 16, 10) AS BIGINT)` it
  * replaces — every oracle replays that form in DuckDB, so a 1-bit
  * divergence silently splits engine results from the oracles. Covers
  * ASCII, multi-byte UTF-8, empty, long, and null inputs, both prefix
  * widths in use (8, 15), and the Bloom probe's build/probe agreement. */
class Md5PrefixSpec extends AnyFunSuite with SharedSpark {

  private def edgeDf = {
    import spark.implicits._
    (Seq(
      Some(""), Some(" "), Some("a"), Some("abc"), Some("hello world"),
      Some("0"), Some("12345"), Some("-3.5"), Some("école 東京 💩"),
      Some("sep"), Some("x" * 5000), None
    ) ++ (0 until 500).map(i => Some(s"tok_$i"))).toDF("s")
  }

  test("kernel == conv(substring(md5)) SQL form, n=15 and n=8") {
    for (n <- Seq(8, 15)) {
      val bad = edgeDf.select(
          Md5Prefix.md5PrefixLong(col("s"), n).as("k"),
          expr(s"CAST(conv(substring(md5(s), 1, $n), 16, 10) AS BIGINT)").as("h"))
        .filter(!(col("k") <=> col("h"))).count()
      assert(bad == 0, s"n=$n")
    }
  }

  test("kernel matches on the real corpus text column") {
    val corpus = spark.read
      .parquet("/root/testdata/sf0.01/documents.parquet").select(col("text").as("s"))
    val bad = corpus.select(
        Md5Prefix.md5PrefixLong(col("s"), 15).as("k"),
        expr("CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)").as("h"))
      .filter(!(col("k") <=> col("h"))).count()
    assert(bad == 0)
  }

  test("interpreted eval path agrees with codegen") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    for (s <- Seq("", "abc", "école 東京", "tok_42")) {
      val interp = Md5PrefixLong(Literal(UTF8String.fromString(s),
        org.apache.spark.sql.types.StringType), 15).eval(null)
      val Array(viaSql) = edgeDf.sparkSession
        .sql(s"SELECT CAST(conv(substring(md5('${s.replace("'", "''")}'), 1, 15), 16, 10) AS BIGINT)")
        .collect().map(_.getLong(0))
      assert(interp == viaSql, s"input '$s'")
    }
  }

  test("bloom probe agrees with the bucketHash build-side arithmetic") {
    import spark.implicits._
    val params = graft.ops.Dedup.hashParams(graft.ops.Sketches.BloomK)
    val bits = graft.ops.Sketches.BloomBits
    val grams = (0 until 2000).map(i => s"g_$i")
    // build words exactly as contaminationFlagsBloom does, over half the grams
    val evalGrams = grams.filter(_.hashCode % 2 == 0)
    val df = evalGrams.toDF("g")
    val posRows = params.flatMap { case (_, a, b) =>
      df.select(org.apache.spark.sql.functions.expr(
        s"pmod(pmod($a * CAST(conv(substring(md5(g), 1, 8), 16, 10) AS BIGINT) + $b, ${graft.ops.Dedup.P}), $bits)").as("p"))
        .collect().map(_.getLong(0))
    }
    val words = Array.fill((bits + 62) / 63)(0L)
    posRows.foreach(p => words((p / 63).toInt) |= (1L << (p % 63)))
    // every eval gram must pass the probe (no false negatives)
    val probed = grams.toDF("g").filter(
        BloomProbe.containsAll(
          Md5Prefix.md5PrefixLong(col("g"), 8), words, params,
          graft.ops.Dedup.P, bits, 63))
      .collect().map(_.getString(0)).toSet
    assert(evalGrams.forall(probed.contains), "false negative in bloom probe")
  }
}
