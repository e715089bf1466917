package graft.io

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ORC as the second columnar interchange format (Spark-native source):
  * lossless round trip against the parquet-sourced tables and predicate
  * pushdown reaching the ORC scan — the same plan-quality bar the
  * parquet paths are held to. */
class OrcSpec extends AnyFunSuite with SharedSpark {
  test("parquet → orc → read back is lossless and pushes filters down") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graftorc").toString
    docs.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.schema == docs.schema)
    val a = docs.collect().map(_.toString).sorted
    val b = back.collect().map(_.toString).sorted
    assert(a.sameElements(b), "round trip diverged")
    // predicate pushdown must reach the ORC scan
    val plan = back.filter(col("source") === "src1")
      .select("doc_id", "source")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(source), EqualTo(source,src1)]")
      || plan.toLowerCase.contains("pushedfilters: [isnotnull(source), equalto(source,src1)]"),
      s"no pushdown in plan:\n${plan.take(800)}")
  }
}
