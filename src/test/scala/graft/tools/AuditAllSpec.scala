package graft.tools

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Seeded regressions for the scale audit: the flags must actually trip
  * on the anti-patterns they claim to catch, and must stay quiet on the
  * legitimate bounded shapes they exempt. */
class AuditAllSpec extends AnyFunSuite with SharedSpark {
  test("a forced broadcast of a data-sized side is flagged") {
    // the exact class removed from the abss/eofe chains: a per-key
    // aggregate of the data spine, force-broadcast back onto it. The
    // spine must NOT be a LocalRelation (driver-resident is bounded by
    // definition) — range() models a distributed scan.
    val data = spark.range(100)
      .select((col("id") % 10).as("k"), col("id").cast("double").as("v"))
    val perKey = data.groupBy("k").agg(avg("v").as("m"))
    val plan = data.join(broadcast(perKey), Seq("k"), "left")
    assert(AuditAll.flagsOf(plan).contains("FORCED-BROADCAST"))
  }

  test("a forced broadcast of a raw scan is flagged") {
    import spark.implicits._
    val a = spark.range(100).toDF("k")
    val b = spark.range(100).toDF("k")
    assert(AuditAll.flagsOf(a.join(broadcast(b), Seq("k")))
      .contains("FORCED-BROADCAST"))
  }

  test("bounded builds are NOT flagged: 1-row aggregate, local relation, " +
       "literal limit, grouped agg over a bounded child") {
    import spark.implicits._
    val data = spark.range(100)
      .select((col("id") % 10).as("k"), col("id").cast("double").as("v"))
    // groupless aggregate -> 1 row
    val tot = data.agg(sum("v").as("t"))
    assert(!AuditAll.flagsOf(data.crossJoin(broadcast(tot)))
      .contains("FORCED-BROADCAST"))
    // LocalRelation (driver-resident already)
    val dimLocal = Seq((0, "a"), (1, "b")).toDF("k", "name")
    assert(!AuditAll.flagsOf(data.join(broadcast(dimLocal), Seq("k")))
      .contains("FORCED-BROADCAST"))
    // literal limit
    val top = data.orderBy(col("v").desc).limit(5)
      .select(col("k").as("k"), col("v").as("topv"))
    assert(!AuditAll.flagsOf(data.join(broadcast(top), Seq("k")))
      .contains("FORCED-BROADCAST"))
    // grouped aggregate over a bounded (limited) child stays bounded
    val gOverBounded = data.limit(7).groupBy("k").agg(max("v").as("m"))
    assert(!AuditAll.flagsOf(data.join(broadcast(gOverBounded), Seq("k")))
      .contains("FORCED-BROADCAST"))
  }

  test("collect-site lint: unjustified driver actions trip, bounded and " +
       "allowlisted ones pass, stale allowlist entries are reported") {
    val dir = java.nio.file.Files.createTempDirectory("lint_src")
    def write(name: String, body: String): Unit = {
      val f = dir.resolve(name)
      java.nio.file.Files.createDirectories(f.getParent)
      java.nio.file.Files.write(f, body.getBytes)
    }
    write("ops/Bad.scala",
      """val rows = df.groupBy("user").agg(sum("v"))
        |  .collect()""".stripMargin)
    write("ops/Bounded.scala",
      """val a = df.limit(5).collect()
        |val b = df.agg(sum("v")).head()
        |val c = xs.take(3) // plain Scala, no Dataset action parens""".stripMargin)
    write("ops/Justified.scala",
      """val m = trainedModel.collect() // vocab-bounded""".stripMargin)
    // unjustified grouped collect -> 1; plus one stale entry -> 2
    val n = AuditAll.auditCollectSites(dir.toString, Seq(
      ("ops/Justified.scala", "trainedModel.collect()", "vocab-bounded model"),
      ("ops/Ghost.scala", "nothing matches this", "stale entry")))
    assert(n == 2)
    // with only live, matching entries the bad file alone is flagged
    val n2 = AuditAll.auditCollectSites(dir.toString, Seq(
      ("ops/Justified.scala", "trainedModel.collect()", "vocab-bounded model")))
    assert(n2 == 1)
  }

  test("the repo's own collect-site lint is clean at HEAD") {
    assert(AuditAll.auditCollectSites() == 0)
  }

  test("library layers read no environment variables or system properties") {
    // only entry points (cli, tools, Bench, Verify, Sessions) may read them
    val read = """sys\.env|System\.getenv|sys\.props|System\.getProperty""".r
    val hits = Seq("core", "functions", "io", "kernels", "ops", "queries",
        "streaming").flatMap { layer =>
      val dir = java.nio.file.Paths.get("src/main/scala/graft", layer)
      assert(java.nio.file.Files.isDirectory(dir), s"missing $dir")
      val it = java.nio.file.Files.walk(dir).iterator()
      val files = scala.collection.mutable.Buffer[java.nio.file.Path]()
      while (it.hasNext) files += it.next()
      files.filter(_.toString.endsWith(".scala")).toSeq.flatMap { f =>
        val lines = java.nio.file.Files.readAllLines(f).toArray(Array.empty[String])
        lines.indices.collect {
          case i if read.findFirstIn(lines(i)).isDefined => s"$f:${i + 1}"
        }
      }
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("every RunOts product goes through its one parquet writer") {
    // the history stamp and full-precision encoding live in that writer;
    // a second call site would bypass them
    val src = java.nio.file.Files.readString(
      java.nio.file.Paths.get("src/main/scala/graft/cli/RunOts.scala"))
    val sites = "Sink\\.writeParquet\\(".r.findAllIn(src).size
    assert(sites == 1, s"$sites Sink.writeParquet( call sites in RunOts")
  }

  test("text dialects reach Spark through one splittable scan, not a driver String") {
    // a file decoded whole on the driver and sent back as a LocalRelation
    // is bounded by driver memory and read by one task
    def lines(f: String) = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get("src/main/scala/graft", f)).toArray(Array.empty[String]).toSeq
    val lookups = lines("cli/RunOts.scala")
      .filter(l => l.contains("Dialects.") && !l.contains("readArgonautProfile"))
    assert(lookups.nonEmpty, "RunOts no longer looks dialects up")
    val viaText = lookups.filter(l => l.contains("readText") || l.contains("readBytes"))
    assert(viaText.isEmpty, s"dialect reads through a driver String: $viaText")
    val local = lines("io/Dialects.scala").filter(_.contains("createDataset"))
    assert(local.isEmpty, s"Dialects builds a LocalRelation: $local")
  }

  /** (file, enclosing `def`) of every line of `root`'s Scala files that
    * matches `re`. */
  private def sites(root: String, re: scala.util.matching.Regex): Seq[(String, String)] = {
    val it = java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator()
    val files = scala.collection.mutable.Buffer[java.nio.file.Path]()
    while (it.hasNext) files += it.next()
    val defName = """^\s*(?:private |override )*def (\w+)""".r.unanchored
    files.filter(_.toString.endsWith(".scala")).sortBy(_.toString).toSeq.flatMap { f =>
      val lines = java.nio.file.Files.readAllLines(f).toArray(Array.empty[String])
      lines.indices.filter(i => re.findFirstIn(lines(i)).isDefined).map { i =>
        val enclosing = (i to 0 by -1).map(lines(_)).collectFirst { case defName(n) => n }
        (f.toString, enclosing.getOrElse(""))
      }
    }
  }

  test("one way to make a session: Sessions in main, SharedSpark in the tests") {
    // every suite runs in one JVM, where a second builder only gets the
    // shared session back and changes its confs for every later suite
    val builder = """SparkSession\.builder""".r
    val main = sites("src/main/scala", builder)
    val test = sites("src/test/scala", builder)
    assert(main == Seq(("src/main/scala/graft/Sessions.scala", "at")) &&
      test == Seq(("src/test/scala/graft/SharedSpark.scala", "graftExtensionsSession")),
      s"${main.size + test.size} session-builder sites:\n${(main ++ test).mkString("\n")}")
    // test confs change only through withConf, which restores them
    val confSets = sites("src/test/scala", """\.conf\.set\(""".r)
    assert(confSets.toSet == Set(("src/test/scala/graft/SharedSpark.scala", "withConf")),
      confSets.mkString("\n"))
  }

  test("no LogicalRDD in src/main: graft's own operators are planned nodes") {
    // a LogicalRDD hands back rows a job already ran for, with a layout
    // declared by hand; a sweep is a logical node the planner plans
    val hits = sites("src/main/scala", "LogicalRDD".r)
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("an unhinted equi-join is not flagged even when the planner " +
       "broadcasts it by size") {
    val data = spark.range(100)
      .select((col("id") % 10).as("k"), col("id").cast("double").as("v"))
    val perKey = data.groupBy("k").agg(avg("v").as("m"))
    // same shape as the first test WITHOUT the hint: AQE/statistics may
    // broadcast it at this size, which is fine — only FORCING is the bug
    assert(!AuditAll.flagsOf(data.join(perKey, Seq("k"), "left"))
      .contains("FORCED-BROADCAST"))
  }
}
