package graft

import org.apache.spark.sql.SparkSession

/** The one session policy for graft's entry-point mains, the `runots` CLI
  * and the test JVM: one shuffle partition per core, UTC session time,
  * parquet nanosecond timestamps read as longs, no UI.
  *
  * [[local]] runs on `cpus` local cores; `SPARK_GRAFT_CPUS` (default 4) is
  * read here and nowhere else. The test JVM shares one `local(4)` session,
  * so results do not depend on the machine's core count. [[at]] takes a
  * master address: `RunOts.main` passes `SPARK_MASTER` (default
  * `local[8]`) at width 8, so `RunOts.runStep` reads parquet nanosecond
  * timestamps as longs from the CLI too, as it does in every test and
  * fixture session. */
object Sessions {
  def local(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
      : SparkSession = at(s"local[$cpus]", cpus)

  def at(master: String, width: Int): SparkSession = SparkSession.builder()
    .master(master)
    .config("spark.sql.shuffle.partitions", width)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
