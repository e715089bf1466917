package graft

import org.apache.spark.sql.SparkSession

/** The one local-session policy for graft's entry-point mains: `cpus` cores,
  * one shuffle partition per core, UTC session time, parquet nanosecond
  * timestamps read as longs, no UI. `SPARK_GRAFT_CPUS` (default 4) is read
  * here and nowhere else. */
object Sessions {
  def local(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
      : SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
