package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/**
 * Adversarial robustness gate for the per-family CLI chains — the
 * chain-surface mirror of `tools/fuzz_docs.py` (which gates the query
 * registry): every chain runs against deliberately malformed deployment
 * inputs and must either produce a product or fail with a LOUD TYPED
 * error. A raw crash (NPE / index-out-of-bounds / MatchError /
 * NoSuchElement / ClassCast anywhere in the cause chain) fails the gate:
 * that is a chain reading garbage as if it were data, or an internal
 * precondition surfacing as an unexplained stack trace instead of a
 * message an operator can act on. (Reference e2e surface:
 * stglib/tests/test_scripts.py:16-180 — its runs are well-formed only;
 * this gate covers what those never exercise.)
 *
 * Input mutations (applied to each chain's main parquet input):
 *  - dup_time:   duplicated timestamp rows (instrument double-logging)
 *  - empty:      zero-row input (e.g. a deployment clipped to nothing)
 *  - all_nan:    every double variable NaN (dead sensor)
 *  - null_time:  a stretch of null timestamps (clock dropout)
 *  - drop_col:   a missing expected variable column
 * plus per-family CONFIG conflicts (required attr absent, dangling file
 * reference) that must fail loudly at plan time, not NPE mid-chain.
 */
object FuzzChains {
  import ChainFixtures.ChainCase

  sealed trait Outcome { def show: String }
  case object Ok extends Outcome { val show = "ok" }
  final case class TypedError(msg: String) extends Outcome {
    def show = s"typed-error: ${msg.take(90)}"
  }
  final case class RawCrash(cls: String, msg: String) extends Outcome {
    def show = s"RAW CRASH $cls: ${msg.take(90)}"
  }

  private val rawClasses: Set[Class[_]] = Set(
    classOf[NullPointerException], classOf[IndexOutOfBoundsException],
    classOf[ArrayIndexOutOfBoundsException], classOf[NoSuchElementException],
    classOf[ClassCastException], classOf[MatchError],
    classOf[StackOverflowError], classOf[NegativeArraySizeException])

  private def classify(e: Throwable): Outcome = {
    var cur: Throwable = e
    var depth = 0
    while (cur != null && depth < 20) {
      if (rawClasses.exists(_.isInstance(cur)))
        return RawCrash(cur.getClass.getSimpleName, String.valueOf(cur.getMessage))
      cur = cur.getCause
      depth += 1
    }
    TypedError(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}")
  }

  /** Family-agnostic input mutations. Each takes the fixture frame and
    * returns the adversarial variant. */
  private def mutations: Seq[(String, DataFrame => DataFrame)] = Seq(
    "baseline" -> identity,
    "dup_time" -> (df => df.union(df.limit(64))),
    "empty" -> (df => df.limit(0)),
    "all_nan" -> { df =>
      df.schema.fields.filter(_.dataType == DoubleType).map(_.name)
        .foldLeft(df)((d, c) =>
          if (c == "time") d else d.withColumn(c, lit(Double.NaN)))
    },
    "null_time" -> { df =>
      if (!df.columns.contains("time")) df
      else df.withColumn("time",
        when(monotonically_increasing_id() % 20 === 0,
          lit(null).cast(df.schema("time").dataType))
          .otherwise(col("time")))
    },
    "drop_col" -> { df =>
      df.columns.filterNot(_ == "time").lastOption
        .map(df.drop(_)).getOrElse(df)
    })

  /** Overwrite `path` with the mutated frame (write-aside + swap: Spark
    * cannot overwrite a parquet dir it is reading). */
  private def rewrite(spark: SparkSession, path: String,
                      f: DataFrame => DataFrame): Unit = {
    val mutPath = path + "__mut"
    f(spark.read.parquet(path)).write.mode("overwrite").parquet(mutPath)
    def rm(x: java.io.File): Unit = {
      Option(x.listFiles).foreach(_.foreach(rm)); x.delete()
    }
    rm(new java.io.File(path))
    // a silently failed rename degrades the mutation into a missing-input
    // case that passes as a typed error — broken setup must FAIL the
    // harness, so use the throwing move, not boolean renameTo
    java.nio.file.Files.move(
      java.nio.file.Paths.get(mutPath), java.nio.file.Paths.get(path))
  }

  /** Per-family config conflicts: broken metas must fail loudly at plan
    * time. Each entry generates its fixture, then runs the step with the
    * conflicting attrs. */
  private def configCases(
      ): Seq[(String, SparkSession => (String => String) => Unit,
              (SparkSession, String => String) => Unit)] = {
    import graft.core.Meta
    import graft.cli.RunOts
    def genOf(label: String) = ChainFixtures.all.find(_.label == label).get.gen
    Seq(
      ("eofe/clean missing EARange_m",
        s => p => genOf("eofe/clean")(s, 0.02, p),
        (s, p) => RunOts.runStep(s, "eofe", "clean",
          Meta(Map[String, Any]("trim_method" -> "altitude",
            "EADeadzone_m" -> 0.1, "orientation" -> "UP")),
          p("earaw"), p("eaclean"))),
      ("aqd/clean water-level-sl missing AQDCellSize",
        s => p => genOf("aqd/clean")(s, 0.02, p),
        (s, p) => RunOts.runStep(s, "aqd", "clean",
          Meta(Map[String, Any]("AQDCoordinateSystem" -> "BEAM",
            "AQDTransMatrix" -> ChainFixtures.nortekT,
            "orientation" -> "UP", "trim_method" -> "water level sl")),
          p("aqdraw"), p("aqdclean"))),
      ("rsk/waves missing wave_nsamps",
        s => p => { genOf("rsk/clean")(s, 0.02, p)
          RunOts.runStep(s, "rsk", "clean", Meta(Map.empty[String, Any]),
            p("comraw"), p("comclean")) },
        (s, p) => RunOts.runStep(s, "rsk", "waves",
          Meta(Map[String, Any]("sample_interval" -> 1.0,
            "pressure_sensor_height" -> 0.5)),
          p("comclean"), p("comwaves"))),
      ("vec/clean BEAM missing VECTransMatrix",
        s => p => genOf("vec/clean")(s, 0.02, p),
        (s, p) => RunOts.runStep(s, "vec", "clean",
          Meta(Map[String, Any]("VECCoordinateSystem" -> "BEAM",
            "magnetic_variation" -> 10.0)),
          p("vecraw"), p("vecclean"))),
      ("son/clean dangling brange_file",
        s => p => genOf("son/clean")(s, 0.02, p),
        (s, p) => RunOts.runStep(s, "son", "clean",
          Meta(Map[String, Any]("brange_file" -> p("no_such_file.nc"),
            "height_var" -> "brange", "initial_instrument_height" -> 1.0,
            "SONNDataPoints" -> 5, "SONRange" -> 5.0)),
          p("sonraw"), p("sonclean"))))
  }

  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toDouble).getOrElse(0.05)
    val only = args.drop(1).headOption.map(_.split(",").toSet)
    // fixed at 32, not SPARK_GRAFT_CPUS: the gate's outcomes are taken at it
    val spark = graft.Sessions.local(32)
    spark.sparkContext.setLogLevel("ERROR")

    var pass = 0
    var fail = 0
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    def record(label: String, mut: String, outcome: Outcome,
               baselineMustPass: Boolean): Unit = {
      val bad = outcome match {
        case _: RawCrash => true
        case _: TypedError if baselineMustPass => true
        case _ => false
      }
      if (bad) { fail += 1; failures += s"$label [$mut] ${outcome.show}" }
      else pass += 1
      println(f"[fuzzchains] $label%-18s $mut%-10s ${outcome.show}")
    }

    def rm(x: java.io.File): Unit = {
      Option(x.listFiles).foreach(_.foreach(rm)); x.delete()
    }

    for (c <- ChainFixtures.all
         if only.forall(sel => sel.exists(c.label.contains));
         (mutName, mutFn) <- mutations) {
      val dir = java.nio.file.Files.createTempDirectory("fuzzchain").toFile
      def p(n: String) = new java.io.File(dir, n).getAbsolutePath
      val outcome =
        try {
          c.gen(spark, mult, p)
          if (mutName != "baseline") rewrite(spark, p(c.mainInput), mutFn)
          c.run(spark, p)
          Ok
        } catch { case e: Throwable => classify(e) }
      record(c.label, mutName, outcome, baselineMustPass = mutName == "baseline")
      rm(dir)
    }

    for ((label, gen, run) <- configCases()
         if only.forall(sel => sel.exists(label.contains))) {
      val dir = java.nio.file.Files.createTempDirectory("fuzzchain").toFile
      def p(n: String) = new java.io.File(dir, n).getAbsolutePath
      val outcome =
        try { gen(spark)(p); run(spark, p); Ok }
        catch { case e: Throwable => classify(e) }
      record(label, "config", outcome, baselineMustPass = false)
      rm(dir)
    }

    println(s"\n[fuzzchains] $pass pass, $fail fail")
    failures.foreach(f => println(s"[fuzzchains] FAIL $f"))
    spark.stop()
    if (fail > 0) sys.exit(1)
  }
}
