package graft.ops

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The fused one-pass interpLinear (both brackets from one sub-bucket
  * candidate set, conditional struct aggregates) must return row-for-row
  * the chained asofForward∘asofBackward form it replaced — same bracket
  * selection (incl. tie-breaks on equal timestamps and null values),
  * same nulls when a bracket is missing, same interpolated doubles. */
class InterpSamePathSpec extends AnyFunSuite with SharedSpark {

  /** The r16 chained formulation, verbatim. */
  private def chained(left: org.apache.spark.sql.DataFrame,
                      right: org.apache.spark.sql.DataFrame,
                      leftTs: String, rightTs: String, valCol: String,
                      tolerance: Long, outCol: String) = {
    val r0 = right.select(col(rightTs).as("__t0"), col(valCol).as("__y0"))
    val r1 = right.select(col(rightTs).as("__t1"), col(valCol).as("__y1"))
    Align.asofForward(
        Align.asofBackward(left, r0, leftTs, "__t0", tolerance),
        r1, leftTs, "__t1", tolerance)
      .withColumn(outCol,
        when(col("__t1") === col("__t0"), col("__y0"))
          .otherwise(col("__y0") + (col("__y1") - col("__y0")) *
            ((col(leftTs) - col("__t0")).cast("double") /
             (col("__t1") - col("__t0")).cast("double"))))
      .drop("__t0", "__y0", "__t1", "__y1")
  }

  private def assertSame(left: org.apache.spark.sql.DataFrame,
                         right: org.apache.spark.sql.DataFrame,
                         tol: Long): Unit = {
    val a = Align.interpLinear(left, right, "lts", "rts", "v", tol, "out")
    val b = chained(left, right, "lts", "rts", "v", tol, "out")
    assert(a.columns.toSeq == b.columns.toSeq)
    val bad = a.as("a").join(b.as("b"), Seq("id"), "full_outer")
      .filter(!(col("a.out") <=> col("b.out")) ||
        !(col("a.lts") <=> col("b.lts"))).count()
    assert(bad == 0)
  }

  test("registered-query shape: events purchase/error series") {
    val ev = Tables_events()
    val left = ev.filter(col("event_type") === "purchase")
      .selectExpr("event_id as id", "ts div 1000 as lts").limit(2000)
    val right = ev.filter(col("event_type") === "error")
      .selectExpr("ts div 1000 as rts", "value as v")
    assertSame(left, right, 3600L * 1000000L)
  }

  private def Tables_events() =
    graft.queries.Tables.events(spark, "/root/testdata/sf0.01")

  test("edge series: exact hits, ties, missing brackets, null values") {
    import spark.implicits._
    val left = Seq((1L, 100L), (2L, 250L), (3L, 400L), (4L, 990L),
      (5L, 0L), (6L, 205L)).toDF("id", "lts")
    // dup timestamps (tie-break), null value, exact-hit at 100 and 400,
    // a far-away point that only brackets id=4 one-sided
    val right = Seq((100L, Some(1.0)), (200L, Some(2.0)),
      (200L, Some(7.0)), (200L, None), (300L, Some(3.0)),
      (400L, Some(4.0)), (1500L, Some(9.0))).toDF("rts", "v")
    assertSame(left, right, 200L)
  }

  test("empty right side") {
    import spark.implicits._
    val left = Seq((1L, 100L)).toDF("id", "lts")
    val right = Seq.empty[(Long, Option[Double])].toDF("rts", "v")
    assertSame(left, right, 100L)
  }
}
