package graft.io

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

class VectorSpec extends AnyFunSuite with SharedSpark {

  private val vhd =
    """ 3  1 2024  0  0  0  1 4096 0.1 0.1 0.1 10 10 10 0.1 0.1 0.1 0.1 0.25 0.2 0.2 0.2 0.2 0.30
      | 3  1 2024  1  0  0  2 4096 0.1 0.1 0.1 10 10 10 0.1 0.1 0.1 0.1 0.25 0.2 0.2 0.2 0.2 0.30
      |""".stripMargin

  test("vhd burst headers with assembled time") {
    val df = Vector.readVhd(spark, vhd)
    assert(df.count() == 2)
    val r = df.orderBy("time").collect()(1)
    assert(r.getTimestamp(0).toInstant.toString == "2024-03-01T01:00:00Z")
    assert(r.getLong(df.columns.indexOf("burst")) == 2L)
    assert(r.getDouble(df.columns.indexOf("distSVolStartAvg")) == 0.25)
  }

  test("sen rows decode the binary status code and orientation bit") {
    val sen =
      """ 3  1 2024  0  0  0 00000000 00110001 13.2 1523.1 271.0 -1.2 0.5 18.1 0 61
        | 3  1 2024  0  0  1 00000000 00110000 13.2 1523.1 271.1 -1.1 0.6 18.1 0 61
        |""".stripMargin
    val df = Vector.readSen(spark, sen)
    val rows = df.orderBy("time").collect()
    assert(rows(0).getLong(df.columns.indexOf("statusCode")) == 49L) // 0b110001
    assert(rows(0).getInt(df.columns.indexOf("orientation")) == 1)   // down
    assert(rows(1).getInt(df.columns.indexOf("orientation")) == 0)
    assert(rows(0).getDouble(df.columns.indexOf("soundspeed")) == 1523.1)
  }

  test("dat sample times = vhd burst start + (ensemble-1)/rate") {
    val dat =
      """1 1 0.10 0.01 0.00 120 121 122 30 30 30 95 96 97 10.11 0 0 61
        |1 2 0.11 0.02 0.01 120 121 122 30 30 30 95 96 97 10.12 0 0 61
        |2 1 0.12 0.03 0.02 120 121 122 30 30 30 95 96 97 10.13 0 0 61
        |""".stripMargin
    val df = Vector.withBurstTime(
      Vector.readDat(spark, dat), Vector.readVhd(spark, vhd), samplingRateHz = 8.0)
    val rows = df.orderBy("burst", "ensemble").collect()
    val t = df.columns.indexOf("time")
    assert(rows(0).getTimestamp(t).toInstant.toString == "2024-03-01T00:00:00Z")
    assert(rows(1).getTimestamp(t).toInstant.toString == "2024-03-01T00:00:00.125Z")
    assert(rows(2).getTimestamp(t).toInstant.toString == "2024-03-01T01:00:00Z")
    assert(rows(1).getDouble(df.columns.indexOf("pressure")) == 10.12)
  }
}
