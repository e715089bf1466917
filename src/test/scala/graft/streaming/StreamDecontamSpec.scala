package graft.streaming

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Ingestion-time benchmark decontamination: the eval n-gram set is bounded
  * by construction, so [[graft.ops.Curation.contaminationFlagsStatic]] is a
  * stateless projection — the identical plan flags each arriving micro-batch
  * in append mode, and its output matches the batch join-based
  * [[graft.ops.Curation.contaminationFlags]] on the same corpus. */
class StreamDecontamSpec extends AnyFunSuite with SharedSpark {

  test("static-set decontam matches the join form and streams in append mode") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),   // eval slice
      (1L, "pack my box with five dozen liquor jugs"),        // eval slice
      (2L, "a quick brown fox jumps over a fence"),           // overlaps 0
      (3L, "pack my box with care and send it off"),          // overlaps 1
      (4L, "entirely unrelated content with no shared grams"),
      (5L, "the quick brown fox jumps over the lazy dog"))    // full dup of 0
    val df = docs.toDF("doc_id", "text")
    val evalPred = col("doc_id") < 2

    val batch = graft.ops.Curation
      .contaminationFlags(df, "doc_id", "text", evalPred, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq
    assert(batch.map(_._1) == Seq(2L, 3L, 5L))

    // the bounded eval set, extracted once (driver-side here; a file or
    // broadcast variable in production)
    val evalGrams = df.filter(evalPred)
      .select(explode(graft.ops.TextAnalysis.wordNgrams(
        graft.ops.TextAnalysis.tokens(col("text")), 3)).as("g"))
      .distinct().as[String].collect().toSeq

    val static = graft.ops.Curation
      .contaminationFlagsStatic(df.filter(!evalPred), "doc_id", "text",
        evalGrams, 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).sortBy(_._1).toSeq
    assert(static == batch)

    val input = MemoryStream[(Long, String)]
    val streamed = graft.ops.Curation.contaminationFlagsStatic(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", evalGrams, 3)
    val q = streamed.writeStream.format("memory")
      .queryName("decontam_stream").outputMode("append").start()
    try {
      input.addData(docs.filter(_._1 >= 2).take(2))
      q.processAllAvailable()
      input.addData(docs.filter(_._1 >= 2).drop(2))
      q.processAllAvailable()
      val got = spark.table("decontam_stream")
        .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).sortBy(_._1).toSeq
      assert(got == batch)
    } finally q.stop()
  }
}
