package graft.perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/**
 * The benchmark's entry point: one workload, one seed, one process.
 *
 *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
 *
 * A run sets up three times (start a Spark session, generate the inputs)
 * and keeps the last set-up; runs one cold pass, whose products are the
 * reference; then runs warm passes, closed loop, until `--seconds` have
 * passed (at least one). The products of the last warm pass (and every
 * query result, as it is made) are fingerprinted and compared with the
 * reference. With `--trace 1` the warm passes are instead pairs of a
 * plain and a traced pass (spans, job groups, listener counters), each
 * traced pass followed by the workload's direct layer calls, and the
 * per-layer metrics are reported.
 * The last stdout line is one JSON object: correct, attempted, failed,
 * metrics.
 */
object Main {
  val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String, cores: Int)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"),
      math.min(4, Runtime.getRuntime.availableProcessors()))
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long): Double = (now() - t0) / 1e9
  private def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val w = Workloads.byName(args.workload).getOrElse {
      log(s"unknown workload ${args.workload}; known: ${Workloads.all.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    val ok = try run(args, w) catch {
      case e: Throwable =>
        log(s"run failed: $e")
        e.printStackTrace()
        false
    }
    // Spark's non-daemon threads must not keep the JVM alive
    System.exit(if (ok) 0 else 1)
  }

  def run(args: Args, w: Workload): Boolean = {
    new java.io.File(args.work).mkdirs()
    // ---- set-up, several times; the last one is kept --------------------
    var spark: SparkSession = null
    var in: Prepared = null
    val setups = (1 to SetupReps).map { i =>
      val t0 = now()
      if (spark != null) spark.stop()
      spark = session(args.cores, args.work)
      in = w.prepare(spark, args.seed, s"${args.work}/input$i")
      secs(t0)
    }
    log(f"set-up ${setups.map(s => f"$s%.2f").mkString(" ")} s; inputs ${in.inputRows} rows, ${in.inputBytes} B")

    val plain = new Ctx(spark, new Tracer(false))
    var attempted = 0
    var failed = 0
    val problems = mutable.ArrayBuffer.empty[String]

    /** One pass: every op back to back; returns (pass seconds, per-op
      * seconds, products). A failed op counts and the pass goes on. The
      * products left on disk are fingerprinted only when `check` is set. */
    def pass(c: Ctx, check: Boolean = true): (Double, Seq[(String, Double)], Seq[Product]) = {
      val prods = mutable.ArrayBuffer.empty[Product]
      val times = mutable.ArrayBuffer.empty[(String, Double)]
      c.tr.newTrace()
      c.tr.span("pass") {
        for (op <- w.ops) {
          attempted += 1
          val t0 = now()
          try prods ++= c.tr.span(op.span)(w.run(c, in, op))
          catch { case e: Throwable =>
            failed += 1
            problems += s"${op.key}: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.take(1).mkString}"
          }
          times += op.key -> secs(t0)
          w.afterOp(c.spark)
        }
      }
      if (check) prods ++= w.check(c, in)
      (times.map(_._2).sum, times.toSeq, prods.toSeq)
    }

    var reference: Map[String, Product] = Map.empty
    def verify(prods: Seq[Product]): Unit = prods.foreach { p =>
      val bad = w.expect(in, p).orElse(reference.get(p.name).collect {
        case r if r != p => s"${p.name}: ${p.rows} rows fp ${p.fp}, reference ${r.rows} rows fp ${r.fp}"
      })
      bad.foreach { b => failed += 1; problems += b }
    }

    // ---- cold pass: the reference -------------------------------------
    val (cold, _, refProds) = pass(plain)
    verify(refProds)
    reference = refProds.map(p => p.name -> p).toMap
    log(f"cold pass $cold%.2f s; products ${refProds.map(p => s"${p.name}=${p.rows}/${p.fp}").mkString(" ")}")

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!args.trace) {
      // ---- warm passes, until the time is used ------------------------
      val t0 = now()
      val passes = mutable.ArrayBuffer.empty[Double]
      while (passes.isEmpty || secs(t0) < args.seconds) {
        val (s, ops, prods) = pass(plain, check = false)
        verify(prods)
        passes += s
        log(f"pass $s%.3f s: ${ops.map { case (k, v) => f"$k=$v%.2f" }.mkString(" ")}")
      }
      verify(w.check(plain, in))
      log(s"${passes.length} warm passes: ${passes.map(s => f"$s%.3f").mkString(" ")} s")
      metrics ++= endToEnd(setups, passes.toSeq, in.inputRows)
    } else {
      metrics ++= traced(args, w, in, plain, pass, verify, cold)
    }
    spark.stop()
    if (problems.nonEmpty) problems.take(20).foreach(p => log(s"FAILED $p"))
    val body = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":$body}""")
    true
  }

  /** The end-to-end metrics of an untraced run, with their units. */
  def endToEnd(setups: Seq[Double], passes: Seq[Double],
               inputRows: Long): Seq[(String, (Double, String))] = {
    val p = median(passes)
    Seq("setup_s" -> (median(setups), "s"), "pass_s" -> (p, "s"),
      "rows_per_s" -> (inputRows / p, "1/s"))
  }

  /** The traced half. Each iteration pairs a plain pass with a traced
    * pass (followed by the workload's direct layer calls), the plain one
    * first in odd iterations and second in even ones; there are at least
    * two, so JIT warm-up drift cancels out of the tracing overhead, the
    * median of (traced - plain) over the pairs. */
  private def traced(args: Args, w: Workload, in: Prepared, plain: Ctx,
                     pass: (Ctx, Boolean) => (Double, Seq[(String, Double)], Seq[Product]),
                     verify: Seq[Product] => Unit,
                     cold: Double): Seq[(String, (Double, String))] = {
    val spark = plain.spark
    val counters = new SparkCounters(spark)
    val tr = new Tracer(true,
      g => spark.sparkContext.setJobGroup(g, g, interruptOnCancel = false),
      () => spark.sparkContext.clearJobGroup())
    val c = new Ctx(spark, tr, Some(counters))
    val perIter = mutable.ArrayBuffer.empty[Map[String, Double]]
    val t0 = now()
    def plainPass(): Double = {
      val (s, _, prods) = pass(plain, false)
      verify(prods)
      s
    }
    while (perIter.size < 2 || secs(t0) < args.seconds) {
      val plainFirst = perIter.size % 2 == 0
      val plainBefore = if (plainFirst) plainPass() else Double.NaN
      val gc0 = JvmCounters.gcMs()
      JvmCounters.resetPeakHeap()
      val firstSpan = tr.spans.size
      val phase0 = c.phases.size
      val (_, _, prods) = pass(c, true)
      val gcS = (JvmCounters.gcMs() - gc0) / 1000.0
      val heap = JvmCounters.peakHeapMb()
      verify(prods)
      val extras = w.layers(c, in)
      val plainS = if (plainFirst) plainBefore else plainPass()
      val m = Layers.metrics(tr.spans.drop(firstSpan), counters.stageRecs,
        counters.jobSpans, c.phases.drop(phase0).toSeq, args.cores)
      perIter += m ++ extras ++ Map(
        "spark.gc_s" -> gcS, "spark.peak_heap_mb" -> heap,
        "pass.output_bytes" -> w.outputBytes(in).toDouble,
        "trace.plain_pass_s" -> plainS, "trace.first_pass_s" -> cold,
        "trace.overhead_s" -> (m("trace.pass_s") - plainS))
    }
    counters.stop()
    writeTrace(args, tr.spans)
    Layers.names.map { case (n, unit) =>
      n -> (median(perIter.map(_.getOrElse(n, 0.0)).toSeq), unit)
    }
  }

  private def writeTrace(args: Args, spans: Seq[Span]): Unit = {
    val f = new java.io.File(args.work, s"trace-${args.workload}-${args.seed}.jsonl")
    val w = new java.io.PrintWriter(f, "UTF-8")
    try Tracer.toJsonLines(spans, Tracer.selfTimes(spans)).foreach(w.println)
    finally w.close()
    log(s"${spans.size} spans written to ${f.getPath}")
  }
}
