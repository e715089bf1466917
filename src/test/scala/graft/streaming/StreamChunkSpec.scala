package graft.streaming

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

/** RAG ingestion chunking: [[graft.ops.Curation.chunkOverlap]] is a
  * stateless per-document explode, so the IDENTICAL plan runs under
  * Structured Streaming in append mode — the deployment shape of a
  * retrieval-corpus ingest (chunk each arriving micro-batch as it lands). */
class StreamChunkSpec extends AnyFunSuite with SharedSpark {

  test("streaming chunkOverlap in append mode equals the batch explode") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val words = (1 to 40).map(i => s"w$i")
    val rows = Seq(
      (1L, words.take(40).mkString(" ")), // starts 0/12/24/36 → 4 chunks
      (2L, words.take(5).mkString(" ")),  // single short chunk
      (3L, words.take(16).mkString(" "))) // exactly one full window + tail start?

    def run(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Curation.chunkOverlap(df, "doc_id", "text", window = 16, stride = 12)

    val batch = run(rows.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getString(4))).sortBy(t => (t._1, t._2)).toSeq
    // doc 1: starts 0/12/24/36 → 4 chunks, last has 4 tokens
    assert(batch.count(_._1 == 1L) == 4)
    assert(batch.filter(_._1 == 1L).last._4 == 4)
    // overlap: chunk 1 of doc 1 starts at token 12 inside chunk 0's window
    assert(batch.filter(_._1 == 1L)(1)._3 == 12)
    assert(batch.count(_._1 == 2L) == 1 && batch.find(_._1 == 2L).get._4 == 5)

    val input = MemoryStream[(Long, String)]
    val q = run(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("chunks")
      .outputMode("append").start()
    try {
      input.addData(rows.take(1)); q.processAllAvailable()
      input.addData(rows.drop(1)); q.processAllAvailable()
      val got = spark.table("chunks")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
          r.getString(4))).sortBy(t => (t._1, t._2)).toSeq
      assert(got == batch)
    } finally q.stop()
  }
}
