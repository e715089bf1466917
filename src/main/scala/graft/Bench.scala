package graft
import org.apache.spark.sql.SparkSession

/**
 * Benchmark main with NOISE CONTROLS (round 16): BENCH_r15.json committed a
 * phantom 2.4x "regression" caused entirely by co-tenant CPU interference —
 * indistinguishable, in the artifact, from a real one. The harness now
 * measures its own environment so the committed record can't silently lie:
 *
 *  - a fixed 5-query CONTROL block runs at suite start AND end (best-of-2
 *    per control query); `noise_index` = end/start total. Control queries
 *    are cheap (~0.1 s) and planner-bound, so they track exactly the
 *    driver/CPU contention that poisoned r15.
 *  - `control_vs_prior` = the run's BEST control-block total vs the
 *    newest COMMITTED `BENCH_DETAIL_r*.json`'s record of the same
 *    queries — catches STEADY co-tenant load, which produces no
 *    start/end drift at all (measured live in r16: a 2.3x-slow run with
 *    noise_index 1.03). The anchor is never the gitignored live stamp:
 *    r16's detector compared against the live file and accepted a
 *    1.9-2.1x-loaded run as `control_vs_prior 1.000` because the prior
 *    had been stamped in the same loaded window.
 *  - any query whose best-of-2 exceeds 2x its rerun seed (the live
 *    BENCH_DETAIL.json when present — last accepted run on THIS machine —
 *    else the committed round stamp) gets a THIRD pass; the min of 3 is
 *    recorded and the name lands in `reruns`. The seed only gates a third
 *    timing pass; it never adjudicates `noisy`.
 *  - when control drift exceeds 1.5x (either direction) the JSON line is
 *    stamped `"noisy":true` — the driver record carries the flag instead
 *    of a silent lie. rc stays 0: a noisy environment is not a failure.
 */
object Bench {

  /** Cheap, stable, long-registered queries spanning scan+project, window
    * trim, graph dedup, and text kernels — each ~0.1 s at sf0.1, so both
    * control blocks together cost ~2 s of a ~170 s suite. */
  private[graft] val ControlQueries =
    Seq("rotate_magvar", "text_tokens", "dedup_components",
        "trim_mask_expr", "text_quality")

  /** Prior per-query seconds from a detail file. Format is exactly what
    * this main writes: one JSON object with a
    * `"queries":{"name":sec,...}` member. */
  private[graft] def readPrior(path: String): Map[String, Double] =
    try {
      val s = new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
        java.nio.charset.StandardCharsets.UTF_8)
      val qStart = s.indexOf("\"queries\":{")
      if (qStart < 0) Map.empty
      else {
        val body = s.substring(qStart + 11, s.indexOf('}', qStart))
        "\"([^\"]+)\":([0-9.]+)".r.findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    } catch { case _: Throwable => Map.empty }

  /** Newest per-round stamped detail file (`BENCH_DETAIL_r*.json`) in
    * `dir` — these are the COMMITTED, judge-visible records. The
    * gitignored live `BENCH_DETAIL.json` is deliberately excluded: it is
    * re-stamped by every accepted run, so under STEADY co-tenant load a
    * slow run would stamp a slow prior and the next slow run would
    * compare 1.000 against it — exactly the laundering that let the r16
    * record claim `control_vs_prior 1.000 / noisy false` while its
    * controls ran 1.9-2.1x the committed quiet r14 values. */
  private[graft] def newestCommittedDetail(dir: String = "."): Option[String] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.matches("BENCH_DETAIL_r\\d+\\.json"))
      .sortBy(n => "\\d+".r.findFirstIn(n).get.toInt)
      .lastOption.map(n => new java.io.File(dir, n).getPath)

  /** The steady-load anchor: per-query seconds from the newest COMMITTED
    * per-round detail file only — never the live working-tree stamp. */
  private[graft] def committedPrior(dir: String = "."): Map[String, Double] =
    newestCommittedDetail(dir).map(readPrior).getOrElse(Map.empty)

  /** The >2x-mover rerun seed: the live accepted stamp when present (it
    * reflects this machine's most recent accepted run, so movers are
    * judged against current-hardware timings), else the committed prior.
    * Safe to be loose here — a contaminated seed only costs/saves a third
    * timing pass; it never adjudicates `noisy`. */
  private[graft] def livePrior(dir: String = "."): Map[String, Double] = {
    val live = readPrior(new java.io.File(dir, "BENCH_DETAIL.json").getPath)
    if (live.nonEmpty) live else committedPrior(dir)
  }

  /** Pure noise adjudication so BenchSpec can prove the thresholds.
    * Returns (driftIndex, controlVsPrior, noisy).
    *  - drift = ctl-end / ctl-start: a co-tenant ARRIVING or LEAVING
    *    mid-suite. Asymmetric thresholds (>1.5, <0.55): the measured
    *    undisturbed JIT-warmth bias runs end/start 0.72-0.77 even with
    *    the pre-start warmup, so the symmetric 1/1.5 lower bound sat ~8%
    *    from a false positive on a quiet machine (r16 advice).
    *  - controlVsPrior = best(ctl-start, ctl-end) / committed quiet
    *    anchor: STEADY load, which produces no drift at all. Flagged in
    *    BOTH directions — >1.5x is a loaded run; <1/1.5x means the
    *    ANCHOR itself was loaded (a later quiet run would otherwise read
    *    as a fake improvement) or the control plans legitimately changed
    *    (re-anchor via SPARK_GRAFT_BENCH_ACCEPT + a fresh stamped round
    *    file).
    *  - `None` prior (first round, renamed files) disables detector 2
    *    VISIBLY: the JSON carries `"control_vs_prior":null` rather than a
    *    vacuous 1.000 indistinguishable from a genuinely clean compare. */
  private[graft] def noiseVerdict(ctlStartTotal: Double, ctlEndTotal: Double,
                                  ctlPriorTotal: Option[Double])
      : (Double, Option[Double], Boolean) = {
    val drift = if (ctlStartTotal > 0) ctlEndTotal / ctlStartTotal else 1.0
    val vsPrior = ctlPriorTotal.filter(_ > 0)
      .map(p => math.min(ctlStartTotal, ctlEndTotal) / p)
    val noisy = drift > 1.5 || drift < 0.55 ||
      vsPrior.exists(r => r > 1.5 || r < 1.0 / 1.5)
    (drift, vsPrior, noisy)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("WARN")
    // warmup outside the measured section: JVM/codegen spin-up and parquet
    // footer reads otherwise land entirely on the first (alphabetical) query
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings").foreach { t =>
      try { spark.read.parquet(s"$sfDir/$t.parquet").count() }
      catch { case _: Throwable => () }
    }
    // deterministic (sorted) execution order so per-query timings are
    // comparable across rounds; best-of-2 per query filters scheduler /
    // codegen-compilation noise out of the measurement
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val debug = sys.env.contains("SPARK_GRAFT_BENCH_DEBUG")
    // a query that throws must NOT masquerade as a fast timing (r6 shipped 22
    // analysis-broken queries as innocent 0.05 s rows): record it here and
    // surface a "failed" list on the JSON line + stderr
    val failed = scala.collection.mutable.SortedSet[String]()
    def timeOne(tag: String, name: String,
                fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch { case e: Throwable =>
        failed += name
        System.err.println(s"[bench:$tag] FAILED $name: ${e.getMessage.linesIterator.next()}")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      if (debug) System.err.println(f"[bench:$tag] $name%-28s $dt%7.3f s")
      // query-completion cache hook — without it, shared() persists from all
      // queries x passes stay pinned for the session (r6: 16x slowdowns)
      graft.ops.Spread.release(spark)
      // cold-cost hook (r17 verdict): the BoundedMemo trainer memos
      // (simhash pairs, connected components, k-means, BPE, char-bigram
      // LM) survive Spread.release by design — legitimate cross-query
      // model reuse for production bulk drivers, but in a benchmark they
      // let pass 2 time a memo hit and let later alphabetical consumers
      // ride models warmed by earlier queries (dedup_cluster_central read
      // 0.27 s warm vs 2.4 s cold). Clearing them at the per-query
      // boundary makes every timed pass pay full training cost. The
      // committed prior was re-stamped in the same change
      // (SPARK_GRAFT_BENCH_ACCEPT) so the detector anchor matches the new
      // timing basis.
      graft.ops.BoundedMemo.clearAll()
      dt
    }
    def runOnce(tag: String): Map[String, Double] =
      names.map { case (n, fn) => n -> timeOne(tag, n, fn) }.toMap
    // control block: best-of-2 per control query, summed
    val byName = names.toMap
    def controlBlock(tag: String): Map[String, Double] = {
      val present = ControlQueries.filter(byName.contains)
      val p1 = present.map(n => n -> timeOne(s"$tag/1", n, byName(n))).toMap
      val p2 = present.map(n => n -> timeOne(s"$tag/2", n, byName(n))).toMap
      p1.map { case (k, v) => k -> math.min(v, p2(k)) }
    }
    // priors loaded BEFORE the suite so the control block has an absolute
    // reference: steady co-tenant load (the r15/r16 reality — a constant
    // 2-3x slowdown across the whole window) produces NO start/end drift,
    // so drift alone cannot see it; control-vs-COMMITTED-prior can. The
    // anchor is the newest committed BENCH_DETAIL_r*.json ONLY — the live
    // stamp is self-referential under steady load (see committedPrior).
    val anchor = committedPrior()
    val anchorFile = newestCommittedDetail()
      .map(new java.io.File(_).getName).getOrElse("")
    val seed = livePrior()
    // untimed control warmup: without it the ctl-start block carries the
    // first-execution JIT/codegen cost of each control plan, which shows
    // up as a structural 1.3-1.4x end/start "improvement" that the drift
    // detector must then leave headroom for (r16 advice)
    ControlQueries.filter(byName.contains)
      .foreach(n => timeOne("ctl-warm", n, byName(n)))
    val ctlStart = controlBlock("ctl-start")
    val r1 = runOnce("r1")
    val r2 = runOnce("r2")
    val best2 = r1.map { case (k, v) => k -> math.min(v, r2(k)) }
    // third pass for movers vs the rerun seed (live stamp, else committed
    // prior): a genuinely regressed query stays slow on its 3rd run; a
    // scheduler hiccup doesn't.
    val movers = best2.collect {
      case (k, v) if seed.get(k).exists(p => p > 0 && v > 2.0 * p) => k
    }.toSeq.sorted
    val r3pass = movers.map(n => n -> timeOne("r3", n, byName(n))).toMap
    val results = best2.map { case (k, v) =>
      k -> math.min(v, r3pass.getOrElse(k, v)) }
    val ctlEnd = controlBlock("ctl-end")
    val ctlStartTotal = ctlStart.values.sum
    val ctlEndTotal = ctlEnd.values.sum
    // detector 2's anchor: the committed prior's record of the same
    // queries — present ONLY when every control query has a committed
    // value, else the detector is visibly disabled (null in the JSON)
    val ctlPriorTotal =
      if (ctlStart.nonEmpty && ctlStart.keys.forall(anchor.contains))
        Some(ctlStart.keys.toSeq.flatMap(anchor.get).sum)
      else None
    val (noiseIndex, ctlVsPriorOpt, noisy) =
      noiseVerdict(ctlStartTotal, ctlEndTotal, ctlPriorTotal)
    if (noisy) System.err.println(
      f"[bench] NOISY ENVIRONMENT: control drift ${noiseIndex}%.2fx " +
        f"(start ${ctlStartTotal}%.3f s, end ${ctlEndTotal}%.3f s), " +
        "control vs committed prior " +
        ctlVsPriorOpt.map(r => f"$r%.2fx ($anchorFile)").getOrElse("n/a") +
        " — timings in this record are suspect")
    def r3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def qjson(m: Seq[(String, Double)]): String =
      m.map { case (k, v) => s"\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val sorted = results.toSeq.sortBy(_._1)
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val moversJson = movers.map("\"" + _ + "\"").mkString("[", ",", "]")
    val noiseMeta =
      s""""noise_index":${r3(noiseIndex)},""" +
      // controls_run: 0 means BENCH_ONLY excluded the control queries —
      // both detectors are then vacuous and noisy:false is NOT a verdict
      s""""controls_run":${ctlStart.size},""" +
      // null = no committed anchor covered the control set: detector 2
      // DISABLED, visibly — never a fake 1.000
      s""""control_vs_prior":${ctlVsPriorOpt.map(r3).getOrElse("null")},""" +
      s""""prior_file":"$anchorFile",""" +
      s""""prior_queries":${ctlStart.keys.count(anchor.contains)},""" +
      s""""noisy":$noisy,""" +
      s""""control_start":${qjson(ctlStart.toSeq.sortBy(_._1))},""" +
      s""""control_end":${qjson(ctlEnd.toSeq.sortBy(_._1))},""" +
      s""""reruns":$moversJson"""
    val full =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":${qjson(sorted)},"failed":$failedJson,$noiseMeta,"sf":"$sfDir"}"""
    // full per-query map (~3 KB for 100+ queries) exceeds the output-tail
    // window the driver captures — keep it on disk + one full stdout line,
    // and END with a compact line (total + slowest 20) that fits the tail
    // whole and parses standalone. A NOISY run must not replace the
    // accepted-run prior (BENCH_DETAIL.json seeds the >2x-mover third
    // pass next run): it stamps BENCH_DETAIL_NOISY.json instead.
    // escape hatch for a LEGITIMATE new baseline (hardware change, or a
    // deliberate control-query change): SPARK_GRAFT_BENCH_ACCEPT=1
    // force-stamps the accepted prior despite the flag
    val forceAccept = sys.env.contains("SPARK_GRAFT_BENCH_ACCEPT")
    val detailPath =
      if (noisy && !forceAccept) "BENCH_DETAIL_NOISY.json"
      else "BENCH_DETAIL.json"
    try {
      val w = new java.io.PrintWriter(detailPath, "UTF-8")
      w.println(full); w.close()
    } catch { case _: Throwable => () }
    println(full)
    val top = results.toSeq.sortBy(-_._2).take(20)
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${results.size},"n_failed":${failed.size},"failed":$failedJson,$noiseMeta,"queries":${qjson(top)},"detail":"$detailPath","sf":"$sfDir"}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
