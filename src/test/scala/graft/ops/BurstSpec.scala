package graft.ops

import graft.SharedSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Burst.fromContinuous against a row_number reference, for both the
  * whole-series branch (no group columns) and the partitioned one: the
  * row at 0-based position p of its series is sample p % n of burst
  * p div n, and only complete bursts are kept. */
class BurstSpec extends AnyFunSuite with SharedSpark {
  private val Nsamps = 8

  /** `rows` rows per group g in 0 until `groups`, with unique shuffled
    * times t and a value x. */
  private def series(rows: Int, groups: Int): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(rows * 31 + groups)
    (0 until groups).flatMap(g =>
      rnd.shuffle((0 until rows).toList).map(t => (g, t.toLong * 10, rnd.nextDouble())))
      .toDF("g", "t", "x").repartition(3)
  }

  private def reference(df: DataFrame, part: Seq[String]): DataFrame = {
    val w = if (part.isEmpty) Window.orderBy("t")
            else Window.partitionBy(part.map(col): _*).orderBy("t")
    df.withColumn("__rn", row_number().over(w) - 1)
      .withColumn("burst", expr(s"__rn div $Nsamps"))
      .withColumn("sample", col("__rn") % Nsamps)
      .withColumn("__n", count(lit(1)).over(
        Window.partitionBy((part.map(col) :+ col("burst")): _*)))
      .filter(col("__n") === Nsamps).drop("__rn", "__n")
  }

  private def rows(df: DataFrame): Seq[String] =
    df.select(col("g"), col("t"), col("x"), col("burst").cast("long"),
        col("sample").cast("long"))
      .collect().map(_.mkString("|")).sorted.toSeq

  /** Both branches on `rows` samples per series; returns the whole-series
    * and the partitioned output row counts. */
  private def check(rowsPerSeries: Int): (Long, Long) = {
    val whole = series(rowsPerSeries, 1)
    val gotWhole = Burst.fromContinuous(whole, Seq("t"), Nil, Nsamps, "burst", "sample")
    val parted = series(rowsPerSeries, 3)
    val gotParted = Burst.fromContinuous(parted, Seq("t"), Seq("g"), Nsamps, "burst", "sample")
    for (got <- Seq(gotWhole, gotParted))
      assert(got.columns.toSeq == Seq("g", "t", "x", "burst", "sample"))
    assert(rows(gotWhole) == rows(reference(whole, Nil)), "whole series")
    assert(rows(gotParted) == rows(reference(parted, Seq("g"))), "partitioned")
    val counts = (gotWhole.count(), gotParted.count())
    Spread.release(spark)
    counts
  }

  test("series length a multiple of nsamps keeps every row") {
    assert(check(8 * Nsamps) == (8L * Nsamps, 3L * 8 * Nsamps))
  }

  test("series length not a multiple of nsamps drops the short last burst") {
    assert(check(8 * Nsamps - 3) == (7L * Nsamps, 3L * 7 * Nsamps))
  }

  test("series shorter than nsamps gives no bursts") {
    assert(check(Nsamps - 3) == (0L, 0L))
  }

  test("empty input gives no bursts") {
    assert(check(0) == (0L, 0L))
  }
}
