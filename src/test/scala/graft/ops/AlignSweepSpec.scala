package graft.ops

import graft.SharedSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Seeded property test of the as-of sweep: all four operators against a
  * brute-force reference — LEFT JOIN on the tolerance band, then
  * `row_number()` per left row under each operator's tie-break (the shape
  * of the DuckDB oracles in `graft.queries.Alignment`). The reference
  * numbers left rows first, so duplicate left rows stay one row each and
  * results compare as multisets. */
class AlignSweepSpec extends AnyFunSuite with SharedSpark {

  private val Widths = Seq(1, 4, 16)

  /** The reference pick per left row: `cond` and `order` over l.lt / r.*. */
  private def ranked(left: DataFrame, right: DataFrame, cond: String,
                     order: String): DataFrame = {
    left.withColumn("__lid", monotonically_increasing_id())
      .createOrReplaceTempView("sweep_l")
    right.createOrReplaceTempView("sweep_r")
    spark.sql(s"""SELECT * FROM (
                 |  SELECT l.*, r.*, row_number() OVER (
                 |    PARTITION BY l.__lid ORDER BY $order) AS __rn
                 |  FROM sweep_l l LEFT JOIN sweep_r r ON $cond)
                 |WHERE __rn = 1""".stripMargin)
      .drop("__lid", "__rn")
  }

  // overflow-safe band conditions: `tol` may be Align.Unbounded
  private def nearestRef(l: DataFrame, r: DataFrame, tol: Long) =
    ranked(l, r, s"abs(l.lt - r.rt) <= $tol", "abs(l.lt - r.rt), r.rt, r.rv, r.rs")
  private def backwardRef(l: DataFrame, r: DataFrame, tol: Long) =
    ranked(l, r, s"r.rt <= l.lt AND l.lt - r.rt <= $tol",
      "r.rt DESC, r.rv DESC, r.rs DESC")
  private def forwardRef(l: DataFrame, r: DataFrame, tol: Long) =
    ranked(l, r, s"r.rt >= l.lt AND r.rt - l.lt <= $tol", "r.rt, r.rv, r.rs")
  private def interpRef(l: DataFrame, r: DataFrame, tol: Long) = {
    // interpolation brackets tie-break on (rt, rv) only
    val series = r.select(col("rt"), col("rv"), lit(null).cast("string").as("rs"))
    val lo = backwardRef(l, series, tol)
      .withColumnRenamed("rt", "t0").withColumnRenamed("rv", "y0").drop("rs")
    val hi = forwardRef(lo, series, tol)
      .withColumnRenamed("rt", "t1").withColumnRenamed("rv", "y1").drop("rs")
    hi.withColumn("out",
        when(col("t1") === col("t0"), col("y0"))
          .otherwise(col("y0") + (col("y1") - col("y0")) *
            ((col("lt") - col("t0")).cast("double") / (col("t1") - col("t0")).cast("double"))))
      .drop("t0", "y0", "t1", "y1")
  }

  private def assertSameRows(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq, what)
    val g = got.collect().map(_.toSeq.toList.map(String.valueOf)).sortBy(_.mkString("|")).toSeq
    val w = want.collect().map(_.toSeq.toList.map(String.valueOf)).sortBy(_.mkString("|")).toSeq
    assert(g == w, s"$what: sweep differs from the reference")
  }

  /** Every operator at every width against the reference. */
  private def checkAll(left: DataFrame, right: DataFrame, tols: Seq[Long],
                       what: String): Unit = {
    for (w <- Widths; tol <- tols) withConf("spark.sql.shuffle.partitions" -> w.toString) {
      val at = s"$what, width $w, tolerance $tol"
      assertSameRows(Align.asofNearest(left, right, "lt", "rt", tol),
        nearestRef(left, right, tol), s"nearest: $at")
      assertSameRows(Align.asofBackward(left, right, "lt", "rt", tol),
        backwardRef(left, right, tol), s"backward: $at")
      assertSameRows(Align.asofForward(left, right, "lt", "rt", tol),
        forwardRef(left, right, tol), s"forward: $at")
      assertSameRows(Align.interpLinear(left, right, "lt", "rt", "rv", tol, "out"),
        interpRef(left, right, tol), s"interp: $at")
      Spread.release(spark)
    }
  }

  private def lefts(rows: Seq[(Option[Long], String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("lt", "la")
  }

  private def rights(rows: Seq[(Option[Long], Option[Double], Option[String])]): DataFrame = {
    import spark.implicits._
    rows.toDF("rt", "rv", "rs")
  }

  test("random series: ties with differing and null payloads, null timestamps, duplicate left rows") {
    val rnd = new scala.util.Random(20261017L)
    def ts(span: Int) = if (rnd.nextInt(25) == 0) None else Some(rnd.nextInt(span).toLong)
    val l0 = (1 to 300).map(i => (ts(400), s"a${i % 37}"))
    // a slice of the left rows again, byte-identical
    val left = lefts(l0 ++ l0.take(40))
    val right = rights((1 to 150).map { _ =>
      (ts(400),
        rnd.nextInt(8) match {
          case 0 => None
          case 1 => Some(Double.NaN)
          case k => Some(k.toDouble)
        },
        if (rnd.nextInt(4) == 0) None else Some(s"s${rnd.nextInt(3)}"))
    })
    checkAll(left, right, Seq(0L, 7L, Align.Unbounded), "random")
    assert(Align.asofNearest(left, right, "lt", "rt", 7L).count() == 340)
  }

  test("right rows on every range split") {
    // every timestamp 0..199 carries a right row, so every range bound
    // the sampler can pick is a right row's timestamp
    val left = lefts((0 until 200).flatMap(t => Seq((Some(t.toLong), "x"), (Some(t.toLong), "x"))))
    val right = rights((0 until 200).flatMap(t =>
      Seq((Some(t.toLong), Some((t % 5).toDouble), Some("p")),
          (Some(t.toLong), None, Some("q")))))
    checkAll(left, right, Seq(0L, 1L, Align.Unbounded), "splits")
  }

  test("sparse right series: brackets carried across empty partitions") {
    val left = lefts((0 until 300).map(t => (Some(t.toLong * 3), "y")))
    val right = rights(Seq((Some(5L), Some(1.0), None), (Some(850L), Some(2.0), Some("z"))))
    checkAll(left, right, Seq(0L, 40L, Align.Unbounded), "sparse")
  }

  test("empty left side and empty right side") {
    val left = lefts(Seq((Some(3L), "a"), (None, "b"), (Some(3L), "a")))
    val right = rights(Seq((Some(2L), Some(1.0), Some("r")), (None, Some(9.0), None)))
    val noLeft = lefts(Nil)
    val noRight = rights(Nil)
    checkAll(noLeft, right, Seq(0L, Align.Unbounded), "empty left")
    checkAll(left, noRight, Seq(0L, Align.Unbounded), "empty right")
  }

  test("negative tolerance is rejected") {
    val left = lefts(Seq((Some(1L), "a")))
    val right = rights(Seq((Some(1L), Some(1.0), None)))
    intercept[IllegalArgumentException](Align.asofNearest(left, right, "lt", "rt", -1L))
  }
}
