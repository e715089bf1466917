package graft.ops

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** observe-based counters must equal a direct aggregation — in batch via
  * the QueryExecutionListener and per micro-batch in streaming progress. */
class ObserveSpec extends AnyFunSuite with SharedSpark {
  test("batch: listener surfaces the counters of exactly the scanned data") {
    import spark.implicits._
    val seen = new java.util.concurrent.atomic.AtomicReference[Map[String, Any]]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit = {
        qe.observedMetrics.get("ingest").foreach(r =>
          seen.set(r.getValuesMap[Any](r.schema.fieldNames.toSeq)))
      }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val df = Seq((1L, Some("a")), (2L, None), (3L, Some("c")), (4L, None))
        .toDF("id", "s")
      val out = Observe.withQualityMetrics(df, "ingest", Seq("id", "s"))
        .filter(col("id") > 0)
      assert(out.count() == 4)
      // listener delivery is async; poll briefly
      var tries = 0
      while (seen.get == null && tries < 50) { Thread.sleep(100); tries += 1 }
      val m = seen.get
      assert(m != null, "observed metrics never arrived")
      assert(m("n_rows") == 4L && m("id_nulls") == 0L && m("s_nulls") == 2L)
      assert(m("id_min") == 1L && m("id_max") == 4L)
      assert(m("s_min") == "a" && m("s_max") == "c")
    } finally spark.listenerManager.unregister(listener)
  }

  test("streaming: per micro-batch observed metrics") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Long]
    val out = Observe.withQualityMetrics(in.toDF().toDF("id"), "ingest",
      Seq("id"))
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("obs").start()
    in.addData(1L to 10L: _*)
    q.processAllAvailable()
    val m = q.recentProgress.flatMap(p =>
      Option(p.observedMetrics.get("ingest"))).lastOption
    q.stop()
    assert(m.isDefined, "no observed metrics in progress")
    assert(m.get.getAs[Long]("n_rows") == 10L)
    assert(m.get.getAs[Long]("id_min") == 1L && m.get.getAs[Long]("id_max") == 10L)
  }
}
