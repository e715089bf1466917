package graft.io

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

class LisstSpec extends AnyFunSuite with SharedSpark {

  // 36 vc values then the 26 scalar columns (Y/M/D/H/M/S embedded)
  private val csv: String = {
    def row(vcBase: Double, sec: Int): String = {
      val vcs = (1 to 36).map(i => f"${vcBase + i * 0.1}%.1f")
      val scalars = Seq("88.1", "12.0", "0.1", "77.0", "4.5", "18.2",
        "2024", "1", "2", "3", "4", sec.toString,
        "0.2", "55.5", "123.4", "45.0", "0.01", "0.02", "0.98",
        "12", "3456", "7.0", "0.3", "0.91", "1.23")
      (vcs ++ scalars).mkString(", ")
    }
    row(1.0, 5) + "\n" + row(2.0, 6) + "\n"
  }

  test("ring-size dimension table matches the manual's 36 bins") {
    val rs = Lisst.ringSizes(spark).collect().sortBy(_.getInt(0))
    assert(rs.length == 36)
    assert(rs.head.getDouble(2) == 1.00 && rs.last.getDouble(3) == 500.0)
    // each bin's upper = next bin's lower (logarithmic chain)
    (0 until 35).foreach { i =>
      assert(rs(i).getDouble(3) == rs(i + 1).getDouble(2))
    }
  }

  test("scalar columns parse with assembled timestamp") {
    val df = Lisst.readScalars(spark, csv)
    assert(df.count() == 2)
    val r = df.orderBy("time").collect()(0)
    assert(r.getTimestamp(0).toInstant.toString == "2024-01-02T03:04:05Z")
    assert(df.columns.contains("MeanDiameter") && !df.columns.contains("Year"))
    assert(r.getDouble(df.columns.indexOf("MeanDiameter")) == 55.5)
  }

  test("volume concentration stacks long and joins ring sizes broadcast") {
    val df = Lisst.readVolumeConcentration(spark, csv)
    assert(df.count() == 72)
    val r5 = df.filter("ring = 5").orderBy("time").collect()
    assert(r5.length == 2)
    assert(math.abs(r5(0).getDouble(r5(0).fieldIndex("vc")) - 1.5) < 1e-9)
    assert(r5(0).getDouble(r5(0).fieldIndex("RSmedian")) == 2.63)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"))
  }
}
