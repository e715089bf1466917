package graft.cli

import graft.SharedSpark
import graft.core.Meta
import graft.kernels.Butterworth
import graft.ops.{Qaqc, Spectra, Spread}
import org.apache.spark.ShuffleDependency
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A step's Butterworth filters run as one pass, whatever the number of
  * filtered columns: grouped (velFilter's per-bin and burst layouts) as one
  * exchange with nothing joined back, and over a whole series as one sweep,
  * one persisted frame and the one-column job count. Counted by a listener
  * at width 4 over a 20,000-row series, 3 bins x 4,096 samples and 16
  * bursts x 512 samples. */
class FilterPassSpec extends AnyFunSuite with SharedSpark {
  private val vels = Seq("U", "V", "W1", "W2")
  private val velMeta = Meta(Map[String, Any]("vel_filter_method" -> "lowpass",
    "vel_filter_cut" -> 10.0, "sample_interval" -> 1.0))

  private def wave(i: Column, k: Int): Column =
    sin(i * (0.05 * (k + 1))) + cos(i * 0.4) * 0.3

  /** `rows` with a U/V/W1/W2 signal over their `id`, which is dropped. */
  private def velocities(rows: DataFrame): DataFrame =
    vels.zipWithIndex.foldLeft(rows) { case (d, (v, k)) => d.withColumn(v, wave(col("id"), k)) }
      .drop("id")

  private def series: DataFrame = velocities(spark.range(20000)
    .withColumn("time", expr("timestamp_micros(1706745600000000 + id * 1000000)")))

  private def bins: DataFrame = velocities(spark.range(3 * 4096).select(col("id"),
    expr("timestamp_micros(1706745600000000 + (id div 3) * 1000000)").as("time"),
    (col("id") % 3).cast("int").as("bin")))

  private def bursts: DataFrame = velocities(spark.range(16 * 512).select(col("id"),
    expr("timestamp_micros(1706745600000000 + (id div 512) * 3600000000)").as("time"),
    (col("id") % 512).cast("int").as("sample")))

  /** (jobs, shuffle stages) `body` runs, counted by a listener; a marker
    * job after it closes the count, since listener events arrive in order. */
  private def counted[T](body: => T): (T, Int, Int) = {
    val sc = spark.sparkContext
    @volatile var jobs = 0
    @volatile var closed = false
    val shuffleStages = scala.collection.concurrent.TrieMap.empty[Int, Unit]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == "marker")) closed = true
        else if (!closed) jobs += 1
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (!closed && e.taskType == "ShuffleMapTask") shuffleStages.put(e.stageId, ())
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobDescription("marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30000000000L
      while (!closed && System.nanoTime() < deadline) Thread.sleep(10)
      assert(closed, "the marker job never reached the listener")
      (out, jobs, shuffleStages.size)
    } finally sc.removeSparkListener(listener)
  }

  /** Build and run `build`'s frame to the last column: (frame, jobs, shuffle
    * stages, frames it persisted). */
  private def run(build: => DataFrame): (DataFrame, Int, Int, Int) = {
    Spread.release(spark)
    val (out, jobs, stages) = counted { val df = build; df.queryExecution.toRdd.count(); df }
    val persisted = Spread.trackedCount(spark)
    Spread.release(spark)
    (out, jobs, stages, persisted)
  }

  private def shuffles(rdd: RDD[_]): Set[Int] = rdd.dependencies.flatMap {
    case s: ShuffleDependency[_, _, _] => shuffles(s.rdd) + s.shuffleId
    case d => shuffles(d.rdd)
  }.toSet

  test("velFilter on the per-bin and burst layouts: one exchange, no join, at most 5 jobs") {
    withConf("spark.sql.shuffle.partitions" -> "4") {
      for ((layout, df) <- Seq("bins" -> bins, "bursts" -> bursts); k <- Seq(1, 4)) {
        val (out, jobs, stages, _) = run(RunOts.velFilter(df, velMeta, vels.take(k), layout))
        val what = s"$layout, $k component(s)"
        assert(stages == 1, s"$what: $stages shuffle stages")
        assert(jobs <= 5, s"$what: $jobs jobs")
        assert(out.queryExecution.analyzed.collectFirst { case j: Join => j }.isEmpty, what)
        assert(shuffles(out.queryExecution.toRdd).size == 1, what)
      }
    }
  }

  test("the series velFilter and Qaqc.applyAll filter every column in one sweep") {
    withConf("spark.sql.shuffle.partitions" -> "4") {
      val (_, oneJobs, _, one) = run(RunOts.velFilter(series, velMeta, Seq("U"), "series"))
      val (_, fourJobs, _, four) = run(RunOts.velFilter(series, velMeta, vels, "series"))
      assert(one == 1 && four == 1, s"persisted frames: $one for U, $four for U, V, W1, W2")
      assert(fourJobs == oneJobs, s"jobs: $oneJobs for U, $fourJobs for U, V, W1, W2")

      val attrs = Map[String, Any]("sample_interval" -> 1.0, "U_lowpass_filt" -> 10.0)
      def qaqc(a: Map[String, Any]) =
        run(Qaqc.applyAll(series, Meta(a), vels, order = Seq("time"), part = Nil))
      val (_, qOneJobs, _, qOne) = qaqc(attrs)
      val (_, qTwoJobs, _, qTwo) = qaqc(attrs + ("V_lowpass_filt" -> 30.0))
      assert(qOne == 1 && qTwo == 1, s"persisted frames: $qOne for U, $qTwo for U and V")
      assert(qTwoJobs == qOneJobs, s"jobs: $qOneJobs for U, $qTwoJobs for U and V")
    }
  }

  test("a null time under the velocity filter fails, naming `time` and the input") {
    withConf("spark.sql.shuffle.partitions" -> "4") {
      for ((layout, df) <- Seq("series" -> series, "bins" -> bins, "bursts" -> bursts)) {
        val holed = df.withColumn("time", when(col("U") > 0.99, lit(null)).otherwise(col("time")))
        val e = intercept[Exception](
          RunOts.velFilter(holed, velMeta, vels, s"$layout.parquet").queryExecution.toRdd.count())
        val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
        assert(messages.exists(_.contains(s"velFilter: null `time` in $layout.parquet")), layout)
      }
    }
    Spread.release(spark)
  }

  test("filtfiltWholeSeries positions and filters in one sweep") {
    val sos = Butterworth.lowpass(4, 0.1, 1.0)
    withConf("spark.sql.shuffle.partitions" -> "4") {
      val (_, filterJobs, _, filter) =
        run(Spectra.filterColumnWholeSeries(series, Seq("time"), "U", sos))
      val (_, jobs, stages, persisted) =
        run(Spectra.filtfiltWholeSeries(series, Seq("time"), "U", sos).toDF())
      assert(filter == 1 && persisted == 1, s"persisted frames: $persisted against $filter")
      assert(jobs == filterJobs, s"jobs: $jobs against $filterJobs")
      assert(stages == 1, s"$stages shuffle stages")
    }
  }
}
