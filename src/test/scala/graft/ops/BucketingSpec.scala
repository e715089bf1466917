package graft.ops

import graft.SharedSpark
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite

/** Bucketing = the 100 TB co-located-join pattern: two fact tables written
  * bucketed on the join key join WITHOUT any shuffle exchange — at cluster
  * scale this is the difference between a full-network reshuffle of both
  * sides and a purely local merge per bucket. */
class BucketingSpec extends AnyFunSuite with SharedSpark {

  test("join of two tables bucketed on the key plans with zero shuffles") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS graft_bucket_a")
    spark.sql("DROP TABLE IF EXISTS graft_bucket_b")
    (1L to 1000L).map(i => (i % 50, i)).toDF("k", "va")
      .write.mode("overwrite").bucketBy(8, "k").sortBy("k")
      .saveAsTable("graft_bucket_a")
    (1L to 400L).map(i => (i % 50, i * 10)).toDF("k", "vb")
      .write.mode("overwrite").bucketBy(8, "k").sortBy("k")
      .saveAsTable("graft_bucket_b")
    // force a non-broadcast join so the exchange question is real
    try withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = spark.table("graft_bucket_a")
        .join(spark.table("graft_bucket_b"), "k")
      assert(j.count() == 1000L * 400L / 50L) // 20 x 8 matches per key x 50
      val plan = j.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
      assert(shuffles.isEmpty,
        s"expected shuffle-free bucketed join, found: $shuffles")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bucket_a")
      spark.sql("DROP TABLE IF EXISTS graft_bucket_b")
    }
  }
}
