package graft.streaming

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** HLL register building under Structured Streaming: the same projection +
  * max aggregation runs in complete mode with ≤ m registers of state per
  * group, and the streamed registers estimate bit-identically to a batch
  * build over the same rows. */
class StreamHllSpec extends AnyFunSuite with SharedSpark {

  test("streamed registers equal the batch build; estimates bit-identical") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = (0L until 4000L).map(i => ("g" + (i % 2), i))

    val input = MemoryStream[(String, Long)]
    val regs = graft.ops.Sketches.hllRegistersStream(
      input.toDF().toDF("grp", "key"), "grp", "key")
    val q = regs.writeStream.outputMode("complete")
      .format("memory").queryName("hllregs").start()
    input.addData(rows.take(2500): _*)
    q.processAllAvailable()
    input.addData(rows.drop(2500): _*) // second micro-batch updates maxima
    q.processAllAvailable()
    val streamed = spark.sql("select * from hllregs")
    val streamedSet = streamed.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    q.stop()

    val batch = graft.ops.Sketches.hllRegisters(
      rows.toDF("grp", "key"), "grp", "key")
    val batchSet = batch.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(streamedSet == batchSet)

    val estBatch = graft.ops.Sketches.hllEstimate(batch, "grp")
      .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    val estStream = graft.ops.Sketches.hllEstimate(streamed, "grp")
      .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    assert(estBatch == estStream)
  }
}
