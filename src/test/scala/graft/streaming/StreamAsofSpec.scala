package graft.streaming

import graft.SharedSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming as-of join parity: the SAME StreamAsof.asofNearest plan fed
  * through two MemoryStreams across several triggers (aux running behind
  * the measurement feed, so candidates span batch boundaries) must emit
  * exactly the rows the batch run produces — and the batch run must agree
  * with the batch operator `Align.asofNearest` on the matched subset,
  * tying the streaming semantics to the registered join_asof_nearest
  * query. */
class StreamAsofSpec extends AnyFunSuite with SharedSpark {

  private val base = 1700000000000000L // µs

  // measurement series: every 30 s; aux series: every 95 s with jitter and
  // a 10-minute outage so some left rows legitimately have NO candidate
  private def mkLeft = (0 until 240).map(i =>
    (i.toLong, base + i * 30000000L, 10.0 + 0.01 * i))
  private def mkRight = (0 until 70).map { j =>
    val t = base + j * 95000000L + (j % 7) * 1000000L
    (1000L + j, if (j >= 30 && j < 36) t + 600000000L else t, 101.3 + 0.001 * j)
  }

  private def shapeL(df: DataFrame): DataFrame =
    df.select(col("mid"), timestamp_micros(col("lus")).as("ltime"), col("p"))
  private def shapeR(df: DataFrame): DataFrame =
    df.select(col("aid"), timestamp_micros(col("rus")).as("rtime"), col("atm"))

  test("streamed as-of nearest equals batch run and the batch Align operator") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val lDf = shapeL(mkLeft.toDF("mid", "lus", "p"))
    val rDf = shapeR(mkRight.toDF("aid", "rus", "atm"))
    val batch = StreamAsof.asofNearest(lDf, rDf, "ltime", "rtime",
      toleranceSec = 60).collect().map(_.toString).sorted
    assert(batch.nonEmpty && batch.length < 240,
      s"fixture weak: ${batch.length} matches") // outage leaves gaps

    // semantics tie-down: the batch operator on long-µs columns, matched
    // subset, must choose identical aux rows
    val alignGot = graft.ops.Align.asofNearest(
        mkLeft.toDF("mid", "lus", "p"), mkRight.toDF("aid", "rus", "atm"),
        "lus", "rus", tolerance = 60000000L)
      .filter(col("aid").isNotNull)
      .select(col("mid"), timestamp_micros(col("lus")).as("ltime"), col("p"),
        col("aid"), timestamp_micros(col("rus")).as("rtime"), col("atm"))
      .collect().map(_.toString).sorted
    assert(alignGot.sameElements(batch), "streaming plan diverges from Align.asofNearest")

    val lIn = MemoryStream[(Long, Long, Double)]
    val rIn = MemoryStream[(Long, Long, Double)]
    val out = StreamAsof.asofNearest(
      shapeL(lIn.toDF().toDF("mid", "lus", "p")),
      shapeR(rIn.toDF().toDF("aid", "rus", "atm")),
      "ltime", "rtime", toleranceSec = 60)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("asof").start()
    try {
      // aux trails the measurement feed by a trigger; candidates for the
      // tail of each measurement slice arrive one or two triggers later
      val lRows = mkLeft; val rRows = mkRight
      lIn.addData(lRows.take(100): _*)
      rIn.addData(rRows.take(20): _*)
      q.processAllAvailable()
      lIn.addData(lRows.slice(100, 200): _*)
      rIn.addData(rRows.slice(20, 50): _*)
      q.processAllAvailable()
      lIn.addData(lRows.drop(200): _*)
      rIn.addData(rRows.drop(50): _*)
      q.processAllAvailable()
      // advance both watermarks far past the data so every pending
      // aggregate finalizes and emits
      val flush = base + 100000L * 1000000L
      lIn.addData((99999L, flush, 0.0))
      rIn.addData((99999L, flush, 0.0))
      q.processAllAvailable()
      val got = spark.table("asof")
        .filter(col("mid") =!= 99999L)
        .collect().map(_.toString).sorted
      assert(got.sameElements(batch),
        s"stream ${got.length} rows vs batch ${batch.length}")
    } finally q.stop()
  }

  test("byte-identical duplicate left rows stay 1:1 with batch output") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // measurement feed carrying TRUE duplicates: row (7, t, 10.0) twice
    val lRows = Seq(
      (7L, base, 10.0), (7L, base, 10.0),
      (8L, base + 30000000L, 11.0))
    val rRows = Seq((1000L, base + 5000000L, 101.3))
    val lDf = shapeL(lRows.toDF("mid", "lus", "p"))
    val rDf = shapeR(rRows.toDF("aid", "rus", "atm"))
    val batch = StreamAsof.asofNearest(lDf, rDf, "ltime", "rtime",
      toleranceSec = 60).collect().map(_.toString).sorted
    assert(batch.length == 3, s"batch must keep the duplicate: ${batch.length}")

    val lIn = MemoryStream[(Long, Long, Double)]
    val rIn = MemoryStream[(Long, Long, Double)]
    val out = StreamAsof.asofNearest(
      shapeL(lIn.toDF().toDF("mid", "lus", "p")),
      shapeR(rIn.toDF().toDF("aid", "rus", "atm")),
      "ltime", "rtime", toleranceSec = 60)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("asof_dup").start()
    try {
      // the two byte-identical rows arrive in DIFFERENT microbatches (the
      // per-partition arrival counter restarts each batch — only the
      // batch-timestamp key component keeps them apart), the third in the
      // second batch
      lIn.addData(lRows.head)
      rIn.addData(rRows: _*)
      q.processAllAvailable()
      lIn.addData(lRows.tail: _*)
      q.processAllAvailable()
      val flush = base + 100000L * 1000000L
      lIn.addData((99999L, flush, 0.0))
      rIn.addData((99999L, flush, 0.0))
      q.processAllAvailable()
      val got = spark.table("asof_dup")
        .filter(col("mid") =!= 99999L)
        .collect().map(_.toString).sorted
      assert(got.sameElements(batch),
        s"stream ${got.length} rows vs batch ${batch.length}")
    } finally q.stop()
  }
}
