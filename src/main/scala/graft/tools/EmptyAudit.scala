package graft.tools

/** Dev audit: every registered query must survive 0-row inputs (schema
  * present, no data) — degenerate deployments and empty partitions are
  * routine at 100 TB. Queries whose operators have a documented non-empty
  * precondition (k-means seeding) are listed with their error instead.
  *
  * Contract as of round 12: 170 of 182 return empty results cleanly; the
  * 12 failures are all the k-means trainer's explicit
  * "kmeans needs at least one input vector" requirement (the similarity
  * family that trains a quantizer) — a deliberate loud precondition, like
  * any `fit` on an empty training set, not a crash. */
object EmptyAudit {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    val src = "/root/testdata/sf0.001"
    val dir = java.nio.file.Files.createTempDirectory("graft_empty").toString
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")) {
      spark.read.parquet(s"$src/$t.parquet").limit(0)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    var ok, failed = 0
    val errs = scala.collection.mutable.ArrayBuffer[(String, String)]()
    for ((name, fn) <- graft.SparkEntry.queries.toSeq.sortBy(_._1)) {
      try { fn(spark, dir).count(); ok += 1 }
      catch { case e: Throwable =>
        failed += 1
        errs += name -> Option(e.getMessage).getOrElse(e.getClass.getName)
          .linesIterator.next().take(110)
      }
      graft.ops.Spread.release(spark)
    }
    errs.foreach { case (n, m) => println(s"[empty] FAIL $n: $m") }
    println(s"[empty] done: $ok ok, $failed failed of ${ok + failed}")
    spark.stop()
  }
}
