package graft.tools

/** The per-query profiler: times ANY registered query exactly as Bench
  * invokes it (fresh fn call, count() action, Spread release and trainer
  * memo clear between runs), then prints the formatted physical plan and
  * the stage-level attribution of the steady-state (3rd) run. Args: query
  * names. Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (see [[graft.Sessions]]). */
object ProbeQ {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val i = sc.stageInfo
          val dur = (i.completionTime.getOrElse(0L) -
            i.submissionTime.getOrElse(0L)) / 1e3
          val cpu = i.taskMetrics.executorCpuTime / 1e9
          val run = i.taskMetrics.executorRunTime / 1e3
          if (dur > 0.05)
            stages.add(f"STAGE ${i.stageId}%4d tasks=${i.numTasks}%4d " +
              f"wall=$dur%6.2f cpu=$cpu%6.2f run=$run%6.2f  ${i.name.take(60)}")
        }
      })
    for (name <- args) {
      def once(tag: String): Unit = {
        val t0 = System.nanoTime()
        val df = graft.SparkEntry.queries(name)(spark, dir)
        df.count()
        println(f"PROBE $name $tag ${(System.nanoTime() - t0) / 1e9}%.2f s")
        // the attributed run's plan, explained while its caches are live
        if (tag == "run3") df.explain("formatted")
        graft.ops.Spread.release(spark)
        // match Bench's cold-cost basis (r18): trainer memos cleared at
        // the query boundary, so run3 stage attribution covers training
        graft.ops.BoundedMemo.clearAll()
      }
      once("run1"); once("run2")
      stages.clear()
      once("run3")
      Thread.sleep(300)
      stages.forEach(println)
      stages.clear()
    }
    spark.stop()
  }
}
