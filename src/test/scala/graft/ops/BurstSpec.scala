package graft.ops

import graft.SharedSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeLike}
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

  /** The whole-series branch on `df` (order `t`) with `n`-sample bursts
    * against the row_number reference. The output is declared range
    * partitioned on `burst`, so the group-by below plans no exchange beyond
    * the cut's own: a burst split across partitions would show up as a
    * short count. */
  private def checkDeclared(df: DataFrame, n: Int, at: String): Unit = {
    val got = Burst.fromContinuous(df, Seq("t"), Nil, n, "burst", "sample")
    val total = df.count()
    assert(got.count() == total - total % n, at)
    val want = df.withColumn("__rn", row_number().over(Window.orderBy("t")) - 1)
      .withColumn("burst", expr(s"__rn div $n")).withColumn("sample", col("__rn") % n)
      .filter(col("__rn") < total - total % n).drop("__rn")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0, at)
    val perBurst = got.groupBy("burst").count()
    assert(exchanges(perBurst.queryExecution.executedPlan) ==
      exchanges(got.queryExecution.executedPlan), at)
    assert(perBurst.filter(col("count") =!= n).count() == 0, at)
    assert(perBurst.count() == total / n, at)
    Spread.release(spark)
  }

  private def shuffles(plan: SparkPlan): Seq[ShuffleExchangeLike] = (plan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }).collect { case e: ShuffleExchangeLike => e }

  /** The exchanges in `plan`, as (origin, width). */
  private def exchanges(plan: SparkPlan) =
    shuffles(plan).map(e => (e.shuffleOrigin, e.outputPartitioning.numPartitions))

  test("whole series at widths 1/4/16, bursts longer than a partition's share") {
    // 1,000 shuffled rows: at width 16 a partition holds ~62 rows, so a
    // 100-sample burst crosses two or three partitions
    for (w <- Seq(1, 4, 16); n <- Seq(7, 100, 1000, 1001))
      withConf("spark.sql.shuffle.partitions" -> w.toString) {
        checkDeclared(series(1000, 1).select("t", "x"), n, s"width $w, nsamps $n")
      }
  }

  test("an input already ranged on the order, with empty partitions, is cut as it is") {
    // spark.range declares itself range partitioned and sorted on id: 10
    // rows over 16 slices leave 6 slices empty, between full ones
    val df = spark.range(0, 10, 1, 16).select(col("id").as("t"), (col("id") * 0.5).as("x"))
    for (n <- Seq(1, 3, 4, 10)) checkDeclared(df, n, s"nsamps $n")
    val got = Burst.fromContinuous(df, Seq("t"), Nil, 3, "burst", "sample")
    assert(got.rdd.getNumPartitions == 16)
    assert(shuffles(got.queryExecution.executedPlan).isEmpty)
    Spread.release(spark)
  }

  /** Eight 256-sample bursts of pressure `p` in order `t`. */
  private def pressure: DataFrame = {
    import spark.implicits._
    (0 until 8 * 256).map(i =>
      (i.toLong, 10.0 + 0.3 * math.sin(i * 0.7) + 0.1 * math.sin(i * 0.13))).toDF("t", "p")
  }

  test("the waves kernel over cut bursts plans no exchange, and matches the exchanged path") {
    val df = pressure
    val bursts = Burst.fromContinuous(df, Seq("t"), Nil, 256, "burst", "sample")
    val stats = Spectra.waveStatsFromPressure(bursts, "burst", "sample", "p", fs = 2.0, z = 0.5)
    // the cut's own range exchange is the only one
    assert(exchanges(stats.queryExecution.executedPlan) ==
      exchanges(bursts.queryExecution.executedPlan))
    // the same rows with the layout forgotten take the exchange
    val plain = spark.createDataFrame(bursts.rdd, bursts.schema)
    val viaExchange = Spectra.waveStatsFromPressure(plain, "burst", "sample", "p", fs = 2.0, z = 0.5)
    assert(shuffles(viaExchange.queryExecution.executedPlan).map(_.shuffleOrigin) ==
      Seq(REPARTITION_BY_NUM))
    assert(stats.collect().sortBy(_.burst).toSeq == viaExchange.collect().sortBy(_.burst).toSeq)
    assert(stats.count() == 8)
    Spread.release(spark)
  }

  test("bursts cut narrower than the cluster still fan out over defaultParallelism") {
    // the kernels' cost is invisible to byte-based sizing: a cut at width 2
    // on the 4-core session takes the fan-out's own exchange to 4
    withConf("spark.sql.shuffle.partitions" -> "2") {
      val bursts = Burst.fromContinuous(pressure, Seq("t"), Nil, 256, "burst", "sample")
      assert(bursts.rdd.getNumPartitions == 2)
      val stats = Spectra.waveStatsFromPressure(bursts, "burst", "sample", "p", fs = 2.0, z = 0.5)
      assert(exchanges(stats.queryExecution.executedPlan).diff(
        exchanges(bursts.queryExecution.executedPlan))
        == Seq((REPARTITION_BY_NUM, spark.sparkContext.defaultParallelism)))
      assert(stats.count() == 8)
    }
    Spread.release(spark)
  }

  test("a cut wider than the cluster fans out as it is, each burst once") {
    // the cut's declared width 16 is an upper bound: the range exchange of
    // 10 rows makes at most 10 partitions and its 3 bursts fill 3 of them,
    // so the fan-out keeps the layout and loses no parallelism
    import spark.implicits._
    withConf("spark.sql.shuffle.partitions" -> "16") {
      val df = (0 until 10).map(i => (i.toLong, i * 0.5)).toDF("t", "x")
      val bursts = Burst.fromContinuous(df, Seq("t"), Nil, 3, "burst", "sample")
      assert(exchanges(bursts.queryExecution.executedPlan) == Seq((REPARTITION_BY_NUM, 16)))
      assert(bursts.rdd.getNumPartitions <= 10)
      val calls = spark.sparkContext.longAccumulator("bursts")
      def sums(d: DataFrame) = Spectra.perGroup(d.select(col("burst").as("_1"),
          col("sample").as("_2"), col("x").as("_3")).as[(Long, Long, Double)]) { (k, rows) =>
        calls.add(1); Iterator.single((k, rows.map(_._3).sum))
      }
      val fanned = sums(bursts)
      assert(exchanges(fanned.queryExecution.executedPlan) ==
        exchanges(bursts.queryExecution.executedPlan))
      val got = fanned.collect().sorted.toSeq
      assert(calls.value == 3)
      val plain = sums(spark.createDataFrame(bursts.rdd, bursts.schema))
      assert(shuffles(plain.queryExecution.executedPlan).map(_.shuffleOrigin) ==
        Seq(REPARTITION_BY_NUM))
      assert(got == plain.collect().sorted.toSeq)
      assert(got == Seq((0L, 1.5), (1L, 6.0), (2L, 10.5)))
    }
    Spread.release(spark)
  }

  test("a coalescable repartition on the key still gets the fan-out's own exchange") {
    import spark.implicits._
    val ds = (0 until 400).map(i => (i / 50L, i % 50L, i * 1.0)).toDF("_1", "_2", "_3")
      .repartition(col("_1")).sortWithinPartitions("_1", "_2").as[(Long, Long, Double)]
    val out = Spectra.perGroup(ds) { (k, rows) => Iterator.single((k, rows.length)) }
    assert(shuffles(out.queryExecution.executedPlan).exists(_.shuffleOrigin == REPARTITION_BY_NUM))
    assert(out.collect().sorted.toSeq == (0L until 8L).map(k => (k, 50)))
  }
}
