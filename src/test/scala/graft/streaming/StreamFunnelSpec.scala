package graft.streaming

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming funnel parity: the stateful per-user fold over an in-order
  * event feed must land on exactly the batch query's funnel rows. */
class StreamFunnelSpec extends AnyFunSuite with SharedSpark {

  test("streamed funnel state equals the batch three-pass computation") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(29)
    val types = Array("view", "click", "purchase", "error")
    val events = (0 until 400).map { i =>
      (i % 40L, types(rnd.nextInt(4)), 1000L + i) // ts strictly increasing
    }

    // batch truth — the registered event_funnel shape
    val ev = events.toDF("user_id", "event_type", "ts")
    val s1 = ev.groupBy("user_id")
      .agg(min(when(col("event_type") === "view", col("ts"))).as("t_view"))
    val s2 = ev.join(s1, "user_id").groupBy("user_id", "t_view")
      .agg(min(when(col("event_type") === "click" &&
        col("ts") > col("t_view"), col("ts"))).as("t_click"))
    val s3 = ev.join(s2, "user_id").groupBy("user_id", "t_view", "t_click")
      .agg(min(when(col("event_type") === "purchase" &&
        col("ts") > col("t_click"), col("ts"))).as("t_purchase"))
    val batch = s3.collect().map { r =>
      r.getLong(0) -> ((Option(r.get(1)), Option(r.get(2)), Option(r.get(3))))
    }.toMap

    val input = MemoryStream[(Long, String, Long)]
    val out = StreamFunnel.funnel(
      input.toDF().toDF("user_id", "event_type", "ts"))
    val q = out.writeStream.outputMode("update")
      .format("memory").queryName("funl").start()
    input.addData(events.take(150): _*)
    q.processAllAvailable()
    input.addData(events.slice(150, 300): _*)
    q.processAllAvailable()
    input.addData(events.drop(300): _*)
    q.processAllAvailable()
    // monotone state growth: the row with max steps_reached per user is final
    val streamed = spark.sql("select * from funl").collect()
      .groupBy(_.getLong(0))
      .map { case (u, rs) =>
        val f = rs.maxBy(_.getInt(4))
        u -> ((Option(f.get(1)), Option(f.get(2)), Option(f.get(3))))
      }
    q.stop()
    for ((u, truth) <- batch if truth._1.isDefined)
      assert(streamed.get(u).contains(truth), s"user $u")
    // users that never viewed emit nothing; batch shows them as all-null
    for ((u, truth) <- batch if truth._1.isEmpty)
      assert(!streamed.contains(u) ||
        streamed(u) == ((None, None, None)), s"user $u empty")
  }
}
