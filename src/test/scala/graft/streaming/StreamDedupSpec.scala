package graft.streaming

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

class StreamDedupSpec extends AnyFunSuite with SharedSpark {

  test("dedups across micro-batches with one-bit state per digest") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val out = StreamDedup.dedup(input.toDF().toDF("id", "text"), "id", "text")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("kept").start()

    // batch 1: within-batch duplicate (ids 2 and 3 share text) -> min id wins
    input.addData((1L, "alpha"), (2L, "beta"), (3L, "beta"))
    q.processAllAvailable()
    assert(spark.sql("select id from kept order by id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L))

    // batch 2: cross-batch duplicate suppressed; new content kept
    input.addData((4L, "alpha"), (5L, "gamma"))
    q.processAllAvailable()
    val ids = spark.sql("select id from kept order by id").collect()
      .map(_.getLong(0)).toSeq
    q.stop()
    assert(ids == Seq(1L, 2L, 5L))
  }

  test("streaming result equals batch Dedup.exact on an ordered feed") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (10L, "x y z"), (11L, "a b"), (12L, "x y z"), (13L, "c"),
      (14L, "a b"), (15L, "x y z"), (16L, "d e f"))
    val batch = graft.ops.Dedup.exact(
      docs.toDF("doc_id", "text"), "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq

    val input = MemoryStream[(Long, String)]
    val out = StreamDedup.dedup(input.toDF().toDF("id", "text"), "id", "text")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("kept2").start()
    // feed in id order across two micro-batches
    input.addData(docs.take(4): _*)
    q.processAllAvailable()
    input.addData(docs.drop(4): _*)
    q.processAllAvailable()
    val streamed = spark.sql("select id from kept2").collect()
      .map(_.getLong(0)).sorted.toSeq
    q.stop()
    assert(streamed == batch, s"stream $streamed != batch $batch")
  }
}
