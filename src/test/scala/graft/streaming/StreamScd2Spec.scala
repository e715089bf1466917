package graft.streaming

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming SCD2 parity: closed intervals emitted by the stateful
  * per-user fold over an in-order CDC feed equal exactly the batch
  * scd2_history query's closed rows (valid_to NOT NULL), including
  * version numbers, across a micro-batch split that lands mid-interval. */
class StreamScd2Spec extends AnyFunSuite with SharedSpark {

  test("streamed closed intervals equal the batch window computation") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(31)
    val types = Array("active", "idle", "churned")
    val events = (0 until 600).map { i =>
      (i % 25L, 1000L + i, i.toLong, types(rnd.nextInt(3)))
    } // (user_id, ts strictly increasing, event_id, event_type)

    // batch truth — the registered scd2_history shape (closed rows only)
    val ev = events.toDF("user_id", "ts", "event_id", "event_type")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val changes = ev
      .withColumn("prev", lag("event_type", 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
    val batch = changes
      .withColumn("valid_to", lead("ts", 1).over(w))
      .withColumn("version", row_number().over(w).cast("int"))
      .filter(col("valid_to").isNotNull)
      .select(col("user_id"), col("event_type"), col("ts"),
        col("valid_to"), col("version"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getInt(4))).toSet

    val input = MemoryStream[(Long, Long, Long, String)]
    val out = StreamScd2.history(
      input.toDF().toDF("user_id", "ts", "event_id", "event_type"))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("scd2").start()
    input.addData(events.take(217): _*) // split mid-interval
    q.processAllAvailable()
    input.addData(events.drop(217): _*)
    q.processAllAvailable()
    val streamed = spark.sql("select * from scd2").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getInt(4))).toSet
    q.stop()

    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // versions are dense per user over closed+open intervals
    val maxV = streamed.groupBy(_._1).map { case (_, s) => s.map(_._5).max }
    assert(maxV.forall(_ >= 1))
  }
}
