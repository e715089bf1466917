package graft.streaming

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Ingestion-time Unicode normalization: [[graft.functions.NfcNormalize]]
  * plus the strip/collapse regexes is a stateless projection, so the
  * IDENTICAL plan runs under Structured Streaming in append mode — the
  * deployment shape of a production normalize-before-fingerprint pass
  * (each arriving micro-batch is normalized before any dedup state sees
  * it). Non-ASCII inputs are built from \u escapes so source encoding
  * can never pre-normalize them. */
class StreamNormalizeSpec extends AnyFunSuite with SharedSpark {

  private def normalized(df: org.apache.spark.sql.DataFrame) =
    df.select(col("doc_id"), trim(regexp_replace(regexp_replace(
        graft.functions.NfcNormalize(col("text")),
        "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""),
      "[ \\t]+", " ")).as("norm"))

  test("streaming NFC normalize in append mode equals the batch projection") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "e\u0301cole  with\u0001controls\tand   runs"),
      (2L, "plain ascii stays"),
      (3L, "composed \u00E9 already"),
      (4L, ""))

    val batch = normalized(rows.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    // the projection itself: composition + control strip + collapse
    assert(batch(0)._2 == "\u00E9cole withcontrols and runs")
    assert(batch(2)._2 == "composed \u00E9 already")
    assert(batch(3)._2 == "")

    val input = MemoryStream[(Long, String)]
    val streamed = normalized(input.toDF().toDF("doc_id", "text"))
    val q = streamed.writeStream.format("memory")
      .queryName("normalized").outputMode("append").start()
    try {
      input.addData(rows.take(2))
      q.processAllAvailable()
      input.addData(rows.drop(2))
      q.processAllAvailable()
      val got = spark.table("normalized")
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      assert(got == batch)
    } finally q.stop()
  }
}
