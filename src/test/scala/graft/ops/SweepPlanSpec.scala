package graft.ops

import graft.SharedSpark
import graft.kernels.Butterworth
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A sweep is a planned operator: building a sweep-based frame runs no
  * Spark job (the summary job runs at the first action), its first action
  * gives the op's rows, a session the sweep was never planned on plans it,
  * and a constraint on a column the sweep rewrote does not survive it. */
class SweepPlanSpec extends AnyFunSuite with SharedSpark {
  private val sos = Butterworth.lowpass(4, 0.1, 1.0)

  /** The jobs `body` runs, counted by a listener; a marker job after it
    * closes the count, since listener events arrive in order. */
  private def jobsIn[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    @volatile var jobs = 0
    @volatile var closed = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == "marker")) closed = true
        else if (!closed) jobs += 1
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobDescription("marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30000000000L
      while (!closed && System.nanoTime() < deadline) Thread.sleep(10)
      assert(closed, "the marker job never reached the listener")
      (out, jobs)
    } finally sc.removeSparkListener(listener)
  }

  /** 1,000 rows in shuffled order: t = 3i, v = i (null when i % 9 == 4),
    * x a smooth signal. */
  private val n = 1000
  private def xAt(i: Int): Double = math.sin(i * 0.05) + 0.3 * math.cos(i * 0.4)
  private def left: DataFrame = {
    import spark.implicits._
    new scala.util.Random(4).shuffle((0 until n).toVector)
      .map(i => (3L * i, if (i % 9 == 4) None else Some(i.toLong), xAt(i)))
      .toDF("t", "v", "x").repartition(3)
  }
  /** Right rows at rt = 5j, y = rt / 2. */
  private def right: DataFrame = {
    import spark.implicits._
    (0 until 600).map(j => (5L * j, 2.5 * j)).toDF("rt", "y").repartition(2)
  }
  private val tol = 4L
  private val ts = (0 until n).map(3L * _)
  private val rts = (0 until 600).map(5L * _)

  private def longOrNull(r: Row, i: Int): Option[Long] = if (r.isNullAt(i)) None else Some(r.getLong(i))
  private def bits(xs: Seq[Double]) = xs.map(java.lang.Double.doubleToLongBits)

  // the local reference of each op, by t
  private def backward(t: Long) = rts.filter(r => r <= t && t - r <= tol).lastOption
  private def forward(t: Long) = rts.find(r => r >= t && r - t <= tol)
  private def nearest(t: Long) = (backward(t).toSeq ++ forward(t)).sortBy(r => (math.abs(t - r), r)).headOption
  private def vs = (0 until n).map(i => if (i % 9 == 4) None else Some(i.toLong))

  /** (name, build, check of the first action's rows). */
  private def cases: Seq[(String, () => DataFrame, DataFrame => Unit)] = {
    def byT(df: DataFrame, cols: String*) = df.select(("t" +: cols).map(col): _*).orderBy("t").collect()
    def asof(pick: Long => Option[Long])(df: DataFrame) =
      assert(byT(df, "rt").map(r => longOrNull(r, 1)).toSeq == ts.map(pick))
    Seq(
      ("withGlobalPosition", () => Index.withGlobalPosition(left, Seq("t"), "pos"),
        df => assert(byT(df, "pos").map(_.getLong(1)).toSeq == (0L until n))),
      ("withRunningTotal", () => Index.withRunningTotal(left, Seq("t"), "v", "total"),
        df => assert(byT(df, "total").map(r => longOrNull(r, 1)).toSeq ==
          vs.scanLeft(Option.empty[Long])((a, v) => v.fold(a)(x => Some(a.getOrElse(0L) + x))).tail)),
      ("withOrderedLag", () => Index.withOrderedLag(left, Seq("t"), "v", "prev"),
        df => assert(byT(df, "prev").map(r => longOrNull(r, 1)).toSeq == None +: vs.init)),
      ("asofNearest", () => Align.asofNearest(left, right, "t", "rt", tol), asof(nearest)),
      ("asofBackward", () => Align.asofBackward(left, right, "t", "rt", tol), asof(backward)),
      ("asofForward", () => Align.asofForward(left, right, "t", "rt", tol), asof(forward)),
      ("interpLinear", () => Align.interpLinear(left, right, "t", "rt", "y", tol, "yi"), df => {
        val want = ts.map(t => for (t0 <- backward(t); t1 <- forward(t)) yield
          if (t0 == t1) t0 / 2.0 else t0 / 2.0 + (t1 / 2.0 - t0 / 2.0) * ((t - t0).toDouble / (t1 - t0)))
        assert(byT(df, "yi").map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1))).toSeq == want)
      }),
      ("Burst.fromContinuous", () => Burst.fromContinuous(left, Seq("t"), Nil, 64, "burst", "sample"),
        df => assert(byT(df, "burst", "sample").map(r => (r.getLong(1), r.getLong(2))).toSeq ==
          (0 until n / 64 * 64).map(i => (i / 64L, i % 64L)))),
      ("filterColumns", () => Spectra.filterColumns(left, None, Seq("t"), Seq("x" -> sos)),
        df => assert(bits(byT(df, "x").map(_.getDouble(1)).toSeq) ==
          bits(Butterworth.filtfiltSegmented(sos, (0 until n).map(xAt).toArray, 65536).toSeq))),
      ("filterColumnWholeSeries", () => Spectra.filterColumnWholeSeries(left, Seq("t"), "x", sos),
        df => assert(bits(byT(df, "x").map(_.getDouble(1)).toSeq) ==
          bits(Butterworth.filtfiltSegmented(sos, (0 until n).map(xAt).toArray, 65536).toSeq))),
      ("filtfiltWholeSeries", () => Spectra.filtfiltWholeSeries(left, Seq("t"), "x", sos, segLen = 256).toDF(),
        df => assert(bits(df.orderBy("sample").collect().map(_.getDouble(2)).toSeq) ==
          bits(Butterworth.filtfiltSegmented(sos, (0 until n).map(xAt).toArray, 256).toSeq))))
  }

  test("building a sweep-based frame runs no job; its first action gives the op's rows") {
    for ((name, build, check) <- cases) {
      Spread.release(spark)
      val (df, jobs) = jobsIn(build())
      assert(jobs == 0, s"$name: building ran $jobs job(s)")
      check(df)
    }
    Spread.release(spark)
  }

  test("a sweep over a laid-out sweep builds with no job too") {
    val (df, jobs) = jobsIn(Spectra.filterColumnWholeSeries(
      Index.withGlobalPosition(left, Seq("t"), "pos"), Seq("t"), "x", sos))
    assert(jobs == 0, s"building ran $jobs job(s)")
    assert(df.select("pos").orderBy("t").collect().map(_.getLong(0)).toSeq == (0L until n))
    Spread.release(spark)
  }

  test("a sweep built on a new session plans and runs there") {
    val fresh = spark.newSession()
    assert(fresh.experimental.extraStrategies.isEmpty)
    val df = Index.withGlobalPosition(fresh.range(0, 500, 1, 3).select((col("id") * 2).as("t")),
      Seq("t"), "pos")
    assert(df.sparkSession eq fresh)
    assert(df.orderBy("t").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      (0L until 500).map(i => (2 * i, i)))
    Spread.release(fresh)
  }

  test("a filter above a sweep that rewrote its column is not dropped") {
    // x > 0, high-passed, then x > 0 again: the rewritten x is a new
    // column, so the first predicate says nothing about it
    val high = Butterworth.highpass(4, 0.1, 1.0)
    val positive = left.filter(col("x") > 0)
    val got = Spectra.filterColumnWholeSeries(positive, Seq("t"), "x", high)
      .filter(col("x") > 0).count()
    val kept = (0 until n).map(xAt).filter(_ > 0).toArray
    val want = Butterworth.filtfiltSegmented(high, kept, 65536).count(_ > 0)
    assert(want < kept.length)
    assert(got == want)
    Spread.release(spark)
  }

  test("a sweep over a parquet scan runs under an aggregate whose tasks ship the plan") {
    // a scan's file index does not serialize: a task that captures the plan
    // must not reach it through the sweep's exec
    val dir = java.nio.file.Files.createTempDirectory("sweep_scan").resolve("rows").toString
    left.write.parquet(dir)
    val totals = Index.withRunningTotal(spark.read.parquet(dir), Seq("t"), "v", "total")
      .groupBy((col("t") % 7).as("k")).agg(max("total").as("m")).collect()
    assert(totals.length == 7 && totals.map(_.getLong(1)).max == vs.flatten.sum)
    Spread.release(spark)
  }

  test("a sweep's output joins itself") {
    val pos = Index.withGlobalPosition(left, Seq("t"), "pos")
    val next = pos.select(col("pos").as("p2"), col("t").as("t2"))
    val pairs = pos.join(next, col("pos") + 1 === col("p2"))
      .select(col("t"), col("t2")).collect()
    assert(pairs.length == n - 1 && pairs.forall(r => r.getLong(1) == r.getLong(0) + 3))
    Spread.release(spark)
  }
}
