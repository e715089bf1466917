package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (dev iteration);
    // the driver always runs the full map
    val filter: String => Boolean =
      if (args.length > 2) args(2).split(",").toSet else _ => true
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Queries whose full (small) result we also print to stdout — the
    // dataset_fingerprint pair is cross-engine instrumentation: if the
    // driver's DuckDB compare flags a hash mismatch, these printed rows
    // pinpoint the diverging table/field without access to its parquet.
    val printRows = Set("dataset_fingerprint", "dataset_fingerprint_fields")
    def rmTree(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).foreach(rmTree)
      f.delete(): Unit
    }
    // recorded to failed_queries.json so the compare step can report even
    // a failed ROWS-ONLY query (no oracle entry + no output dir = it
    // would otherwise vanish from the gate entirely)
    val failed = scala.collection.mutable.SortedSet[String]()
    SparkEntry.queries.filter(kv => filter(kv._1)).foreach { case (name, fn) =>
      // drop any prior output FIRST: a query that fails analysis/execution
      // must not leave a stale result dir behind for the compare step to
      // read as if it were this run's answer
      rmTree(new java.io.File(s"$outDir/$name"))
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        if (printRows(name))
          spark.read.parquet(s"$outDir/$name").collect()
            .foreach(r => println(s"[verify:$name] $r"))
      }
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // query-completion cache hook: shared() sub-plans are pinned by
      // CacheManager until unpersist; a 174-query session without this
      // accumulates every query's persisted intermediates (r6 leak)
      finally graft.ops.Spread.release(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/failed_queries.json"),
      failed.map(q).mkString("[", ",", "]"))
    spark.stop()
  }
}
