package graft.streaming

import graft.SharedSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Stream-stream interval join parity: the SAME viewToConversion plan,
  * fed through two MemoryStreams with watermarks across several batches,
  * must emit exactly the rows the batch run produces on the same data —
  * including pairs that span batch boundaries (view arrives in batch 1,
  * its purchase two triggers later). The feed schedule keeps every row
  * inside the 10-minute watermark allowance, so nothing is legitimately
  * droppable and parity must be exact. */
class StreamIntervalJoinSpec extends AnyFunSuite with SharedSpark {

  private def shape(df: DataFrame): DataFrame =
    df.select(col("user_id"), col("event_id"), col("event_type"),
      timestamp_micros(col("us")).as("event_time"))

  test("streamed interval join equals the batch run, incl. cross-batch pairs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(17)
    val base = 1700000000000000L // µs
    // ~3.3 hours of events, ~40 s apart, event-time increasing; 60% views
    val evs = (0 until 300).map { i =>
      val isView = rnd.nextInt(5) < 3
      (i % 12L, i.toLong, if (isView) "view" else "purchase",
        base + i * 40000000L + rnd.nextInt(1000000))
    }
    val all = shape(evs.toDF("user_id", "event_id", "event_type", "us"))
    val batch = StreamIntervalJoin.viewToConversion(
        all.filter(col("event_type") === "view"),
        all.filter(col("event_type") === "purchase"))
      .collect().map(_.toString).sorted
    assert(batch.nonEmpty, "no view→purchase pairs — weak fixture")

    val vIn = MemoryStream[(Long, Long, String, Long)]
    val pIn = MemoryStream[(Long, Long, String, Long)]
    val out = StreamIntervalJoin.viewToConversion(
      shape(vIn.toDF().toDF("user_id", "event_id", "event_type", "us")),
      shape(pIn.toDF().toDF("user_id", "event_id", "event_type", "us")))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("ivj").start()
    // views run ahead of purchases: batch-1 views will only meet their
    // purchases two triggers later — the cross-batch case. Both feeds stay
    // time-ordered, so nothing falls behind the global watermark.
    val views = evs.filter(_._3 == "view")
    val purch = evs.filter(_._3 == "purchase")
    vIn.addData(views.take(60): _*)
    pIn.addData(purch.take(30): _*)
    q.processAllAvailable()
    vIn.addData(views.drop(60): _*)
    q.processAllAvailable()
    pIn.addData(purch.drop(30): _*)
    q.processAllAvailable()
    val streamed = spark.sql("select * from ivj").collect().map(_.toString).sorted
    q.stop()
    assert(streamed.sameElements(batch),
      s"streamed ${streamed.length} rows vs batch ${batch.length}")
  }

  test("left-outer streamed join emits unmatched views after watermark closure") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000000L
    // user 1 view converts in 10 min; user 2 view never converts
    val views = Seq((1L, 10L, "view", base),
      (2L, 20L, "view", base + 60000000L))
    val purch = Seq((1L, 11L, "purchase", base + 600000000L))
    val all = shape((views ++ purch).toDF("user_id", "event_id", "event_type", "us"))
    val batch = StreamIntervalJoin.viewToConversionOuter(
        all.filter(col("event_type") === "view"),
        all.filter(col("event_type") === "purchase"))
      .collect().map(_.toString).sorted
    assert(batch.length == 2 && batch.exists(_.contains("null")))

    val vIn = MemoryStream[(Long, Long, String, Long)]
    val pIn = MemoryStream[(Long, Long, String, Long)]
    val out = StreamIntervalJoin.viewToConversionOuter(
      shape(vIn.toDF().toDF("user_id", "event_id", "event_type", "us")),
      shape(pIn.toDF().toDF("user_id", "event_id", "event_type", "us")))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("ivjo").start()
    vIn.addData(views: _*)
    pIn.addData(purch: _*)
    q.processAllAvailable()
    // nothing unmatched may be emitted yet — the watermark hasn't proven
    // user 2's view hopeless. Advance both watermarks far past
    // v_time + 1h + 10min with sentinel users, then the null row must
    // appear exactly once.
    val far = base + 3L * 3600000000L
    vIn.addData((-1L, 98L, "view", far))
    pIn.addData((-1L, 99L, "purchase", far))
    q.processAllAvailable()
    q.processAllAvailable()
    val streamed = spark.sql("select * from ivjo where user_id >= 0")
      .collect().map(_.toString).sorted
    q.stop()
    assert(streamed.sameElements(batch),
      s"streamed ${streamed.mkString(";")} vs batch ${batch.mkString(";")}")
  }
}
