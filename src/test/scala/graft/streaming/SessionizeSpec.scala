package graft.streaming

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Session-window semantics + streaming/batch parity for
  * [[graft.ops.Sessionize]]. */
class SessionizeSpec extends AnyFunSuite with SharedSpark {

  private def batchSessions(rows: Seq[(Long, Long)]) = {
    import spark.implicits._
    graft.ops.Sessionize.sessions(
      rows.toDF("user", "us").withColumn("t", timestamp_micros(col("us"))),
      "user", "t", "60 seconds")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
  }

  test("gap boundary: touching windows merge; strictly larger gaps split") {
    val us = 1000000L // 1 s
    val rows = Seq((1L, 0L), (1L, 30 * us), (1L, 90 * us), (1L, 151 * us))
    // 30 s gap merges; 60 s gap (30->90) exactly at the boundary still
    // merges (touching windows); 61 s gap (90->151) opens a new session
    assert(batchSessions(rows) == Seq(
      (1L, 0L, 150 * us, 3L),
      (1L, 151 * us, 211 * us, 1L)))
  }

  test("streaming append with watermark equals batch sessions") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val us = 1000000L
    val rows = Seq(
      (1L, 0L), (2L, 5 * us), (1L, 20 * us), (1L, 100 * us),
      (2L, 110 * us), (2L, 130 * us), (1L, 140 * us), (3L, 200 * us))
    val batch = batchSessions(rows)

    val input = MemoryStream[(Long, Long)]
    val streamed = graft.ops.Sessionize.sessions(
      input.toDF().toDF("user", "us")
        .withColumn("t", timestamp_micros(col("us")))
        .withWatermark("t", "0 seconds"),
      "user", "t", "60 seconds")
    val q = streamed.writeStream.outputMode("append")
      .format("memory").queryName("sess").start()
    input.addData(rows.take(4): _*)
    q.processAllAvailable()
    input.addData(rows.drop(4): _*)
    q.processAllAvailable()
    // sentinel far in the future advances the watermark past every session
    // end so append mode flushes all real sessions
    input.addData((99L, 1000000 * us))
    q.processAllAvailable()
    val got = spark.sql("select * from sess").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .filter(_._1 != 99L).sortBy(t => (t._1, t._2)).toSeq
    q.stop()
    assert(got == batch, s"stream $got != batch $batch")
  }
}
