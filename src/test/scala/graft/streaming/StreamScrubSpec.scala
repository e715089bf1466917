package graft.streaming

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Ingestion-time PII scrubbing: [[graft.ops.TextAnalysis.piiRedact]] is a
  * stateless projection, so the IDENTICAL plan runs under Structured
  * Streaming in append mode — the deployment shape of a production scrub
  * (clean each arriving micro-batch before it ever lands). */
class StreamScrubSpec extends AnyFunSuite with SharedSpark {

  test("streaming piiRedact in append mode equals the batch projection") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "mail bob@corp.example.com and 555-123-4567 now"),
      (2L, "server at 192.168.0.1 answered"),
      (3L, "no pii here at all"),
      (4L, "a@b.co c@d.org 10.0.0.7 123.456.7890 123-45-6789"))

    val batch = graft.ops.TextAnalysis
      .piiRedact(rows.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getLong(4), r.getString(5))).sortBy(_._1).toSeq
    // sanity on the patterns themselves
    assert(batch(0)._2 == 1 && batch(0)._3 == 1) // email + dashed phone
    assert(batch(1)._4 == 1)                     // ipv4
    assert(batch(2)._2 == 0 && batch(2)._3 == 0 && batch(2)._4 == 0)
    assert(batch(3)._2 == 2 && batch(3)._3 == 1 && batch(3)._4 == 1)

    val input = MemoryStream[(Long, String)]
    val streamed = graft.ops.TextAnalysis.piiRedact(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text")
    val q = streamed.writeStream.format("memory")
      .queryName("scrubbed").outputMode("append").start()
    try {
      input.addData(rows.take(2))
      q.processAllAvailable()
      input.addData(rows.drop(2))
      q.processAllAvailable()
      val got = spark.table("scrubbed")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
          r.getLong(4), r.getString(5))).sortBy(_._1).toSeq
      assert(got == batch)
    } finally q.stop()
  }
}
