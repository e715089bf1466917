package graft.ops

import graft.SharedSpark
import graft.kernels.Butterworth
import org.apache.spark.{NarrowDependency, OneToOneDependency, ShuffleDependency}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The whole-series filter is one ordered sweep in which each partition
  * reads its overlap-save margins from its neighbours. Whatever the ranged
  * exchange's width and wherever its splits fall, the filtered column must
  * equal `Butterworth.filtfiltSegmented` over the series in order, bit for
  * bit. */
class WholeSeriesFilterSpec extends AnyFunSuite with SharedSpark {
  private val sos = Butterworth.lowpass(4, 1.0 / 10.0, 1.0)
  private val margin = Butterworth.marginFor(sos)
  private val seg = 65536

  private def series(n: Int): Array[Double] = Array.tabulate(n)(i =>
    10.0 + 0.5 * math.sin(2 * math.Pi * 0.002 * i) +
      0.2 * math.sin(2 * math.Pi * 0.11 * i) + ((i * 2654435761L % 1000) - 500) / 5000.0)

  private def sameBits(got: Array[Double], want: Array[Double]): Unit = {
    assert(got.length == want.length)
    got.indices.foreach(i => assert(
      java.lang.Double.doubleToLongBits(got(i)) ==
        java.lang.Double.doubleToLongBits(want(i)), s"row $i: ${got(i)} vs ${want(i)}"))
  }

  /** (t, P_1, other) rows in shuffled order; a None value is a null. */
  private def frame(x: Seq[Option[Double]]): DataFrame = {
    import spark.implicits._
    new scala.util.Random(17).shuffle(x.indices.toVector)
      .map(i => (i.toLong, x(i), i % 7)).toDF("t", "P_1", "other")
  }

  private def filtered(df: DataFrame): Array[Double] = {
    val out = Spectra.filterColumnWholeSeries(df, Seq("t"), "P_1", sos)
    val rows = out.orderBy("t").collect()
    assert(rows.indices.forall(i => rows(i).getLong(0) == i && rows(i).getInt(2) == i % 7))
    rows.map(_.getDouble(1))
  }

  private def check(n: Int, widths: Seq[Int] = Seq(1, 4, 16)): Unit = {
    val x = series(n)
    val want = Butterworth.filtfiltSegmented(sos, x, seg)
    for (w <- widths) withConf("spark.sql.shuffle.partitions" -> w.toString) {
      sameBits(filtered(frame(x.toSeq.map(Some(_)))), want)
    }
  }

  /** Partition p's declared reads, from the sweep's narrow dependency: the
    * one in the result's lineage that is not one-to-one. */
  private def reads(out: DataFrame): Seq[Seq[Int]] = {
    def passes(rdd: RDD[_]): Option[(RDD[_], NarrowDependency[_])] =
      rdd.dependencies.collectFirst { case d: NarrowDependency[_] if !d.isInstanceOf[OneToOneDependency[_]] =>
        rdd -> d }.orElse(rdd.dependencies.iterator.map(d => passes(d.rdd)).collectFirst { case Some(p) => p })
    val (rdd, dep) = passes(out.queryExecution.toRdd).get
    rdd.partitions.indices.map(dep.getParents)
  }

  test("an empty series and a one-row series") {
    check(0)
    check(1)
    // no rows: one empty ranged partition, which reads nothing but itself
    withConf("spark.sql.shuffle.partitions" -> "16") {
      val out = Spectra.filterColumnWholeSeries(frame(Nil), Seq("t"), "P_1", sos)
      assert(reads(out).forall(_.length == 1))
    }
  }

  test("a series shorter than one segment: every partition reads all the others") {
    check(5000)
    withConf("spark.sql.shuffle.partitions" -> "16") {
      val out = Spectra.filterColumnWholeSeries(
        frame(series(5000).toSeq.map(Some(_))), Seq("t"), "P_1", sos)
      val sizes = out.rdd.mapPartitions(it => Iterator(it.size)).collect()
      val full = sizes.indices.filter(sizes(_) > 0)
      assert(full.length > 8, s"partition sizes ${sizes.mkString(",")}")
      reads(out).zipWithIndex.foreach { case (qs, p) =>
        if (sizes(p) > 0) assert(qs.sorted == full, s"partition $p reads $qs")
      }
    }
  }

  test("exactly two segments") {
    check(2 * seg)
  }

  test("a range split inside a margin: 2 x 65,536 + margin +- 1 rows") {
    check(2 * seg + margin - 1)
    check(2 * seg + margin + 1)
  }

  test("5 rows at width 16") {
    check(5, Seq(16))
    withConf("spark.sql.shuffle.partitions" -> "16") {
      val out = Spectra.filterColumnWholeSeries(
        frame(series(5).toSeq.map(Some(_))), Seq("t"), "P_1", sos)
      // the range bounds are sampled keys, so unique keys leave no
      // partition empty: five one-row partitions, each reading all five
      val sizes = out.rdd.mapPartitions(it => Iterator(it.size)).collect()
      assert(sizes.toSeq == Seq(1, 1, 1, 1, 1))
      assert(reads(out).map(_.sorted) == Seq.fill(5)(0 until 5))
    }
  }

  test("a null and a NaN go in as NaN") {
    val n = 70000
    val x = series(n)
    val in = x.indices.map(i => if (i == 100) None else if (i == 69000) Some(Double.NaN)
                               else Some(x(i)))
    val want = Butterworth.filtfiltSegmented(sos,
      in.map(_.getOrElse(Double.NaN)).toArray, seg)
    for (w <- Seq(1, 4, 16)) withConf("spark.sql.shuffle.partitions" -> w.toString) {
      sameBits(filtered(frame(in)), want)
    }
  }

  test("an INT value column becomes a nullable DOUBLE; the schema is kept") {
    import spark.implicits._
    val n = 3000
    val xi = Array.tabulate(n)(i => (i * 37) % 101)
    val df = new scala.util.Random(3).shuffle(xi.indices.toVector)
      .map(i => (i.toLong, xi(i), if (i % 5 == 0) null else s"s$i")).toDF("t", "P_1", "other")
    assert(!df.schema("t").nullable && !df.schema("P_1").nullable)
    val want = Butterworth.filtfiltSegmented(sos, xi.map(_.toDouble), seg)
    for (w <- Seq(1, 4, 16)) withConf("spark.sql.shuffle.partitions" -> w.toString) {
      val out = Spectra.filterColumnWholeSeries(df, Seq("t"), "P_1", sos)
      assert(out.schema == StructType(Seq(StructField("t", LongType, nullable = false),
        StructField("P_1", DoubleType, nullable = true),
        StructField("other", StringType, nullable = true))))
      sameBits(out.orderBy("t").collect().map(_.getDouble(1)), want)
    }
  }

  test("filtfiltWholeSeries: series = sample div segLen, sample = position (butter_lowpass shape)") {
    import spark.implicits._
    val n = 10000
    val x = Array.tabulate(n)(i => 10.0 + 0.5 * math.sin(i * 0.0123) + (i % 13) / 500.0)
    val bsos = Butterworth.lowpass(4, 0.05, 1.0)
    val df = new scala.util.Random(5).shuffle(x.indices.toVector)
      .map(i => (1000L + 3 * i, x(i))).toDF("event_id", "pres")
    val want = Butterworth.filtfiltSegmented(bsos, x, 4096)
    for (w <- Seq(1, 4, 16)) withConf("spark.sql.shuffle.partitions" -> w.toString) {
      val out = Spectra.filtfiltWholeSeries(df, Seq("event_id"), "pres", bsos, segLen = 4096)
      assert(out.columns.toSeq == Seq("series", "sample", "value_filt"))
      val rows = out.orderBy("sample").collect()
      assert(rows.map(_.sample).toSeq == (0L until n))
      assert(rows.forall(r => r.series == r.sample / 4096))
      sameBits(rows.map(_.value_filt), want)
    }
  }

  /** The shuffles in a result's lineage. */
  private def shuffles(rdd: RDD[_]): Set[Int] = rdd.dependencies.flatMap {
    case s: ShuffleDependency[_, _, _] => shuffles(s.rdd) + s.shuffleId
    case d => shuffles(d.rdd)
  }.toSet

  test("filtfiltWholeSeries over 10,000 rows at width 4 runs one shuffle") {
    import spark.implicits._
    val df = new scala.util.Random(8).shuffle((0 until 10000).toVector)
      .map(i => (i.toLong, math.sin(i * 0.01))).toDF("t", "v")
    // the filter sweep's range exchange, which the position sweep takes as it is
    withConf("spark.sql.shuffle.partitions" -> "4") {
      val out = Spectra.filtfiltWholeSeries(df, Seq("t"), "v", sos, segLen = 4096)
      assert(out.count() == 10000)
      assert(shuffles(out.queryExecution.toRdd).size == 1)
    }
    Spread.release(spark)
  }

  test("a filter over a filter's output on one order reads it once, through no exchange") {
    import spark.implicits._
    // every upstream row passes a counting UDF: taken as laid out, the
    // second sweep must read the frame it persisted, or its count job, its
    // own rows and each neighbour's read run the upstream pass again
    val evaluated = spark.sparkContext.longAccumulator
    val counted = udf { (x: Double) => evaluated.add(1); x }
    val (n, segLen) = (10000, 1024)
    withConf("spark.sql.shuffle.partitions" -> "4") {
      val first = Spectra.filterColumnWholeSeries(
        frame(series(n).toSeq.map(Some(_))), Seq("t"), "P_1", sos, segLen)
      val second = Spectra.filterColumnWholeSeries(
        first.withColumn("P_1", counted(col("P_1"))), Seq("t"), "P_1", sos, segLen)
      val got = second.orderBy("t").select("P_1").as[Double].collect()
      assert(shuffles(second.queryExecution.toRdd).size == 1)
      assert(evaluated.sum == n)
      sameBits(got, Butterworth.filtfiltSegmented(sos,
        Butterworth.filtfiltSegmented(sos, series(n), segLen), segLen))
    }
    Spread.release(spark)
  }
}
