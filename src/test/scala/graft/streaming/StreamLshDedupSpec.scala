package graft.streaming

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

class StreamLshDedupSpec extends AnyFunSuite with SharedSpark {

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "completely different content about spark engines"),
    (4L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (5L, "unrelated short text"),
    (6L, "completely different content about spark engine"),// near-dup of 3
    // non-Latin-1 + astral chars: the batch path shingles CODE POINTS
    // (Spark substr/ascii); the scalar twin must match — it used to
    // iterate UTF-16 units, splitting every emoji into surrogate halves,
    // and its naive (a·x+b) product wrapped silently on codepoint-packed x
    (7L, "这是一个测试文档 重复 重复 重复 的内容 🎉🎊"),
    (8L, "这是一个测试文档 重复 重复 重复 的內容 🎉🎊"),// near-dup of 7
    (9L, "🎉🎊 emoji 🎉🎊 soup 🎉🎊 alone"))

  test("streaming pair set equals batch minhashLshPairs on an ordered feed") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val batch = graft.ops.Dedup.minhashLshPairs(
        docs.toDF("doc_id", "text"), "doc_id", "text",
        numHashes = 16, bands = 2, estThreshold = 0.7)
      .select("id_a", "id_b", "est_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    val input = MemoryStream[(Long, String)]
    val out = StreamLshDedup.pairs(input.toDF().toDF("id", "text"),
      "id", "text", numHashes = 16, bands = 2, estThreshold = 0.7)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("lshpairs").start()
    // id-ordered feed split across micro-batches (cross-batch candidates)
    input.addData(docs.take(3): _*)
    q.processAllAvailable()
    input.addData(docs.drop(3): _*)
    q.processAllAvailable()
    val streamed = spark.sql("select distinct id_a, id_b, est_jaccard from lshpairs")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    q.stop()

    assert(batch.nonEmpty, "test data must produce at least one near-dup pair")
    assert(streamed == batch, s"stream $streamed != batch $batch")
  }
}
