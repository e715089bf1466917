package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The scalable two-pass global index must agree exactly with the
  * single-partition window formulation. */
class IndexSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false").getOrCreate()

  test("withGlobalPosition == row_number over global order") {
    import spark.implicits._
    val rnd = new scala.util.Random(9)
    val df = (1 to 5000).map(i => (rnd.nextLong(), i)).toDF("key", "payload")
      .repartition(7)
    val viaWindow = df.withColumn("pos",
      row_number().over(Window.orderBy("key", "payload")) - 1)
    val viaIndex = Index.withGlobalPosition(df, Seq("key", "payload"), "pos")
    assert(viaIndex.select("pos").distinct().count() == 5000)
    val diff = viaWindow.select("key", "payload", "pos")
      .exceptAll(viaIndex.select("key", "payload", "pos")).count()
    assert(diff == 0, s"$diff rows differ")
  }

  test("withOrderedLag == lag(1) over global order (incl. duplicates)") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    // duplicate order-key values on purpose: ties make lag's previous
    // value the same key, which both formulations must agree on
    val df = (1 to 4000).map(_ => rnd.nextInt(500).toLong).toDF("v")
      .repartition(7)
    val got = Index.withOrderedLag(df, Seq("v"), "v", "prev")
      .select("v", "prev").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .sortBy(x => (x._1, x._2))
    val sorted = df.collect().map(_.getLong(0)).toSeq.sorted
    val want = sorted.zip(None +: sorted.dropRight(1).map(Some(_)))
      .sortBy(x => (x._1, x._2))
    assert(got.toSeq == want.toSeq)
  }

  test("withOrderedLag rejects tied order keys when rows are distinguishable") {
    import spark.implicits._
    // duplicate key 7 with DIFFERENT payloads: which payload row receives
    // the previous-distinct lag value is run-order dependent, so the call
    // must fail loudly instead of silently picking one
    val df = Seq((7L, 100L), (7L, 200L), (3L, 300L), (9L, 400L))
      .toDF("k", "payload").repartition(3)
    val e = intercept[IllegalArgumentException] {
      Index.withOrderedLag(df, Seq("k"), "payload", "prev").collect()
    }
    assert(e.getMessage.contains("not a total order"))
    assert(e.getMessage.contains("tie-breaking key"))
    // same data with the payload as a tie-break key: deterministic, allowed
    val ok = Index.withOrderedLag(df, Seq("k", "payload"), "payload", "prev")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).sortBy(x => (x._1, x._2))
    assert(ok.toSeq == Seq((3L, 300L, None), (7L, 100L, Some(300L)),
      (7L, 200L, Some(100L)), (9L, 400L, Some(200L))))
  }
}
