package graft.streaming

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Atmospheric-correction as a stream-static join: the hourly met table is
  * static (bounded, broadcast), the measurement series streams through,
  * and each micro-batch applies P_1ac = P_1 - atmpres - offset exactly as
  * the batch plan does (stglib atmos_correct semantics over a live feed).
  * Stream-static joins need no watermark or state — the static side is
  * re-broadcast per micro-batch. */
class StreamAtmosSpec extends AnyFunSuite with SharedSpark {

  test("streaming correction equals the batch join row-for-row") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val hourUs = 3600000000L
    // measurement rows: (id, ts_us, pres); met rows: (hour, atm)
    val met = Seq((0L, 0.12), (1L, 0.34), (2L, 0.56)).toDF("hour", "atm")
    val meas = (0L until 12L).map(i =>
      (i, i * hourUs / 4, 10.0 + i * 0.1))

    def correct(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("hour", expr(s"us div $hourUs"))
        .join(broadcast(met), Seq("hour"), "left")
        .select(col("id"), (col("pres") - col("atm") - lit(0.2)).as("p_ac"))

    val batch = correct(meas.toDF("id", "us", "pres"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    val input = MemoryStream[(Long, Long, Double)]
    val q = correct(input.toDF().toDF("id", "us", "pres"))
      .writeStream.outputMode("append")
      .format("memory").queryName("atmos").start()
    input.addData(meas.take(7): _*)
    q.processAllAvailable()
    input.addData(meas.drop(7): _*)
    q.processAllAvailable()
    val streamed = spark.sql("select * from atmos").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    q.stop()
    assert(streamed == batch, s"stream $streamed != batch $batch")
  }
}
