package graft.streaming

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

class BurstAssemblerSpec extends AnyFunSuite with SharedSpark {

  test("emits complete bursts across micro-batches with bounded state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[BurstAssembler.Sample]
    val out = BurstAssembler.assemble(input.toDS(), nsamps = 4)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("bursts").start()

    // batch 1: series 1 gets 3 samples (incomplete), series 2 gets 5
    input.addData(
      (1 to 3).map(i => BurstAssembler.Sample(1, i * 100L, i.toDouble)) ++
      (1 to 5).map(i => BurstAssembler.Sample(2, i * 100L, 10.0 + i)): _*)
    q.processAllAvailable()
    val afterB1 = spark.sql("select * from bursts").collect()
    assert(afterB1.length == 1) // only series 2 completed a burst
    assert(afterB1(0).getLong(0) == 2 && afterB1(0).getLong(1) == 0)

    // batch 2: series 1 completes its burst (out-of-order within the batch),
    // series 2 finishes a second one from its 1 buffered + 3 new samples
    input.addData(
      BurstAssembler.Sample(1, 400L, 4.0),
      BurstAssembler.Sample(2, 800L, 18.0),
      BurstAssembler.Sample(2, 600L, 16.0),
      BurstAssembler.Sample(2, 700L, 17.0))
    q.processAllAvailable()
    val rows = spark.sql("select * from bursts order by series, burst").collect()
    q.stop()
    assert(rows.length == 3)
    val s1 = rows(0)
    assert(s1.getLong(0) == 1 && s1.getLong(1) == 0 && s1.getLong(2) == 100L)
    assert(s1.getSeq[Double](3) == Seq(1.0, 2.0, 3.0, 4.0))
    val s2b1 = rows(2)
    assert(s2b1.getLong(0) == 2 && s2b1.getLong(1) == 1 && s2b1.getLong(2) == 500L)
    // batch-2 samples were appended in ts order after the buffered 500
    assert(s2b1.getSeq[Double](3) == Seq(15.0, 16.0, 17.0, 18.0))
  }

  test("streaming result equals the batch Burst.fromContinuous reshape") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val data = (0 until 32).map(i => BurstAssembler.Sample(7, 1000L + i, i * 0.5))
    // batch path
    val batch = graft.ops.Burst.fromContinuous(
      data.toDF(), order = Seq("ts"), part = Seq("series"),
      nsamps = 8, burstCol = "burst", sampleCol = "sample")
      .groupBy("series", "burst")
      .agg(expr("transform(array_sort(collect_list(struct(sample, value))), s -> s.value)")
        .as("values"))
    // streaming path exercised via the same stateful function over one group
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[BurstAssembler.Sample]
    val q = BurstAssembler.assemble(input.toDS(), nsamps = 8)
      .writeStream.outputMode("append").format("memory")
      .queryName("bursts_eq").start()
    input.addData(data: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql("select * from bursts_eq").collect()
      .map(r => (r.getLong(1), r.getSeq[Double](3).toSeq)).toMap
    val batched = batch.collect()
      .map(r => (r.getLong(1), r.getSeq[Double](2).toSeq)).toMap
    assert(streamed == batched)
    assert(streamed.size == 4)
  }
}
