package graft.queries

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

/** Engine-exact canonicalization for the dataset_fingerprint queries:
  * the double path must be a pure IEEE-754 computation (floor(v*100+0.5))
  * with literal sentinels for every value DuckDB and Spark cast
  * differently (NULL, NaN, ±Inf, BIGINT-overflow magnitudes), and the
  * NULL sentinel must make every row contribute to the sum regardless of
  * engine concat rules. The cross-engine halves are exercised by
  * tools/oracle_check.py on scratch/fptest (NaN/Inf/overflow/tie/NULL
  * fixture); this spec pins the Spark-side outputs so a refactor can't
  * silently change the canonical form. */
class FpSpec extends AnyFunSuite with SharedSpark {
  test("canonValue: IEEE floor fixed-point with explicit sentinels") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val vals: Seq[java.lang.Double] = Seq(
      0.145, -0.145, 123.455, 1.005, 16.5, -16.5, 0.0, -0.0, null,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      9.1e16, 1e20)
    val got = vals.toDF("value")
      .select(Fp.canonValue(col("value")).as("c"))
      .collect().map(_.getString(0))
    val expect = Seq(
      // floor on the BINARY double: 0.145*100 = 14.499999999999998
      "14", "-14", "12346", "100", "1650", "-1650", "0", "0", "\u0002NULL",
      "NaN", "Inf", "-Inf", "BIG", "BIG")
    assert(got.toSeq == expect)
    assert(got.forall(_ != null))
  }

  test("tableFp/fieldFp: every row contributes, NULLs included") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (Some(1L), Some("a")),
      (None: Option[Long], Some("b")),
      (Some(3L), None: Option[String])).toDF("id", "s")
    val fields = Seq("id" -> Fp.canon(col("id")), "s" -> Fp.canon(col("s")))
    val t = Fp.tableFp(df, "t", fields).collect()
    assert(t.length == 1)
    assert(t(0).getString(0) == "t")
    assert(t(0).getLong(1) == 3L) // n_rows counts NULL-bearing rows
    assert(!t(0).isNullAt(2))     // fingerprint sums ALL rows (no drops)
    val f = Fp.fieldFp(df, "t", fields).collect()
    assert(f.length == 2)
    assert(f.map(_.getString(2)).toSet == Set("id", "s"))
    assert(f.forall(r => r.getLong(1) == 3L && !r.isNullAt(3)))
  }

  test("fingerprint is order/partitioning free") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = (1 to 100).map(i => (i.toLong, s"doc$i"))
    val fields = Seq("id" -> Fp.canon(col("id")), "s" -> Fp.canon(col("s")))
    def fp(seq: Seq[(Long, String)], parts: Int) =
      Fp.tableFp(seq.toDF("id", "s").repartition(parts), "t", fields)
        .collect()(0).getLong(2)
    assert(fp(rows, 1) == fp(rows.reverse, 7))
    assert(fp(rows, 1) >= 0L && fp(rows, 1) < Fp.FpMod)
  }
}
