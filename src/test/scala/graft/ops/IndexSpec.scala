package graft.ops

import graft.SharedSpark
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The scalable two-pass global index must agree exactly with the
  * single-partition window formulation. */
class IndexSpec extends AnyFunSuite with SharedSpark {
  test("withGlobalPosition == row_number over global order") {
    import spark.implicits._
    val rnd = new scala.util.Random(9)
    val df = (1 to 5000).map(i => (rnd.nextLong(), i)).toDF("key", "payload")
      .repartition(7)
    val viaWindow = df.withColumn("pos",
      row_number().over(Window.orderBy("key", "payload")) - 1)
    val viaIndex = Index.withGlobalPosition(df, Seq("key", "payload"), "pos")
    assert(viaIndex.select("pos").distinct().count() == 5000)
    val diff = viaWindow.select("key", "payload", "pos")
      .exceptAll(viaIndex.select("key", "payload", "pos")).count()
    assert(diff == 0, s"$diff rows differ")
  }

  test("withOrderedLag == lag(1) over global order (incl. duplicates)") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    // duplicate order-key values on purpose: ties make lag's previous
    // value the same key, which both formulations must agree on
    val df = (1 to 4000).map(_ => rnd.nextInt(500).toLong).toDF("v")
      .repartition(7)
    val got = Index.withOrderedLag(df, Seq("v"), "v", "prev")
      .select("v", "prev").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .sortBy(x => (x._1, x._2))
    val sorted = df.collect().map(_.getLong(0)).toSeq.sorted
    val want = sorted.zip(None +: sorted.dropRight(1).map(Some(_)))
      .sortBy(x => (x._1, x._2))
    assert(got.toSeq == want.toSeq)
  }

  test("withOrderedLag rejects tied order keys when rows are distinguishable") {
    import spark.implicits._
    // duplicate key 7 with DIFFERENT payloads: which payload row receives
    // the previous-distinct lag value is run-order dependent, so the call
    // must fail loudly instead of silently picking one
    val df = Seq((7L, 100L), (7L, 200L), (3L, 300L), (9L, 400L))
      .toDF("k", "payload").repartition(3)
    val e = intercept[IllegalArgumentException] {
      Index.withOrderedLag(df, Seq("k"), "payload", "prev").collect()
    }
    assert(e.getMessage.contains("not a total order"))
    assert(e.getMessage.contains("tie-breaking key"))
    // same data with the payload as a tie-break key: deterministic, allowed
    val ok = Index.withOrderedLag(df, Seq("k", "payload"), "payload", "prev")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).sortBy(x => (x._1, x._2))
    assert(ok.toSeq == Seq((3L, 300L, None), (7L, 100L, Some(300L)),
      (7L, 200L, Some(100L)), (9L, 400L, Some(200L))))
  }

  private val Widths = Seq(1, 4, 16)

  /** `check` at each shuffle width. */
  private def atWidths(check: Int => Unit): Unit =
    Widths.foreach(w => withConf("spark.sql.shuffle.partitions" -> w.toString) {
      check(w)
      Spread.release(spark)
    })

  /** 2,400 unique keys in shuffled order; v is null for the first 50 keys,
    * on every 11th key, and on the whole run [700, 1900), which covers at
    * least one entire ranged partition at widths 4 and 16. */
  private def nullRuns = {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    rnd.shuffle((0 until 2400).toList).map { k =>
      val v = if (k < 50 || k % 11 == 0 || (k >= 700 && k < 1900)) None
              else Some((k % 7 - 3).toLong)
      (k.toLong, v)
    }.toDF("k", "v").repartition(5)
  }

  /** (k, out) pairs of `got` equal those of `want`, and `got` appends one
    * nullable BIGINT `out` after the input columns. */
  private def assertSameByKey(got: org.apache.spark.sql.DataFrame,
                              want: org.apache.spark.sql.DataFrame, at: String): Unit = {
    assert(got.schema.map(f => (f.name, f.dataType.simpleString, f.nullable)) ==
      Seq(("k", "bigint", false), ("v", "bigint", true), ("out", "bigint", true)), at)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.select("k", "out").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(pairs(got) == pairs(want), at)
  }

  test("withOrderedLag == lag(v, 1) window with null values, widths 1/4/16") {
    val df = nullRuns
    val want = df.withColumn("out", lag(col("v"), 1).over(Window.orderBy("k")))
    atWidths(w => assertSameByKey(Index.withOrderedLag(df, Seq("k"), "v", "out"),
      want, s"width $w"))
  }

  test("withRunningTotal == running sum window with null values and all-null partitions, widths 1/4/16") {
    val df = nullRuns
    val want = df.withColumn("out", sum(col("v")).over(Window.orderBy("k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    atWidths(w => assertSameByKey(Index.withRunningTotal(df, Seq("k"), "v", "out"),
      want, s"width $w"))
  }

  test("withRunningTotal == running sum window on unique keys") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val df = (1 to 5000).map(i => (rnd.nextLong(), rnd.nextInt(1000) - 500))
      .toDF("key", "n").repartition(7)
    val want = df.withColumn("cum", sum(col("n").cast("long")).over(
      Window.orderBy("key").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val got = Index.withRunningTotal(df, Seq("key"), "n", "cum")
    assert(got.columns.toSeq == Seq("key", "n", "cum"))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  /** All three ops on `df` (unique key k, BIGINT v) against their windows. */
  private def allOpsMatchWindows(df: org.apache.spark.sql.DataFrame, at: String): Unit = {
    val order = Window.orderBy("k")
    val pos = Index.withGlobalPosition(df, Seq("k"), "out")
    val wantPos = df.withColumn("out", (row_number().over(order) - 1).cast("long"))
    assert(pos.exceptAll(wantPos).count() == 0 && wantPos.exceptAll(pos).count() == 0, at)
    assertSameByKey(Index.withOrderedLag(df, Seq("k"), "v", "out"),
      df.withColumn("out", lag(col("v"), 1).over(order)), at)
    assertSameByKey(Index.withRunningTotal(df, Seq("k"), "v", "out"),
      df.withColumn("out", sum(col("v")).over(
        order.rowsBetween(Window.unboundedPreceding, Window.currentRow))), at)
  }

  test("all three ops over an empty input") {
    import spark.implicits._
    atWidths(w => allOpsMatchWindows(Seq.empty[(Long, Option[Long])].toDF("k", "v"),
      s"empty, width $w"))
  }

  test("all three ops at width 16 over fewer rows than partitions") {
    import spark.implicits._
    // range bounds are sampled keys, so the exchange never leaves a
    // partition empty unless the input is: ten rows at width 16 give ten
    // one-row partitions, where every carry crosses a partition boundary
    val df = Seq(5L, 1L, 9L, 3L, 7L, 2L, 8L, 4L, 6L, 10L)
      .map(k => (k, if (k % 3 == 0) None else Some(k * 10))).toDF("k", "v")
    withConf("spark.sql.shuffle.partitions" -> "16") {
      val sizes = df.repartitionByRange(16, col("k")).rdd
        .mapPartitions(it => Iterator(it.size)).collect()
      assert(sizes.toSeq == Seq.fill(10)(1), sizes.mkString(","))
      allOpsMatchWindows(df, "width 16")
      Spread.release(spark)
    }
  }

  test("a positioned frame keeps its input's size estimate") {
    // above 32 MiB, so the estimate sets the whole-series width
    val df = spark.range(5000000L).toDF("k")
    val inBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(inBytes > (BigInt(32) << 20))
    val pos = Index.withGlobalPosition(df, Seq("k"), "pos")
    val outBytes = pos.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(outBytes >= inBytes && outBytes <= inBytes + 8 * 5000000L,
      s"input $inBytes, positioned $outBytes")
    assert(Index.scaledPartitions(pos) == Index.scaledPartitions(df))
    Spread.release(spark)
  }
}
