package graft.perfbench

/** Per-layer metrics of one traced iteration (a traced pass plus the
  * workload's direct layer calls), computed from its spans, the stages
  * charged to them and the Catalyst phases of the actions it forced. */
object Layers {

  /** Spans the workloads open around direct layer calls; `<name>_s` is the
    * time spent in each. */
  val LayerSpans = Seq("io.read", "io.parquet_write", "io.netcdf_write",
    "ops.clip_qaqc", "ops.burst", "ops.wave_stats", "ops.diwasp",
    "ops.asof", "ops.filter_whole_series", "kernels.welch", "kernels.diwasp")

  /** Metric name of an operation span: `cli.step.ingest` -> `cli.step_s.ingest`. */
  def opMetric(span: String): String = {
    val i = span.lastIndexOf('.')
    s"${span.take(i)}_s.${span.drop(i + 1)}"
  }

  /** Every per-layer metric, with its unit, in report order. A workload
    * that does not reach a layer reports 0 for it. */
  lazy val names: Seq[(String, String)] = {
    val opSpans = Workloads.all.flatMap(_.ops)
    opSpans.map(o => opMetric(o.span) -> "s") ++
      Seq("io.read_s" -> "s", "io.read_rows" -> "count",
        "io.parquet_write_s" -> "s", "io.netcdf_write_s" -> "s",
        "io.bytes_written" -> "B", "pass.output_bytes" -> "B",
        "ops.clip_qaqc_s" -> "s", "ops.burst_s" -> "s",
        "ops.wave_stats_s" -> "s", "ops.diwasp_s" -> "s",
        "ops.asof_s" -> "s", "ops.filter_whole_series_s" -> "s",
        "ops.asof_exchanges" -> "count",
        "kernels.welch_s" -> "s", "kernels.diwasp_s" -> "s",
        "kernels.flops" -> "flop_computed", "kernels.bytes" -> "B_computed",
        "kernels.share" -> "ratio",
        "queries.construct_s" -> "s", "queries.analysis_s" -> "s",
        "queries.optimize_s" -> "s", "queries.plan_s" -> "s",
        "queries.exec_s" -> "s",
        "spark.jobs" -> "count", "spark.stages" -> "count",
        "spark.tasks" -> "count", "spark.exchanges" -> "count",
        "spark.stage_wall_s" -> "s", "spark.task_cpu_s" -> "s",
        "spark.cpu_util" -> "ratio", "spark.shuffle_read_bytes" -> "B",
        "spark.shuffle_write_bytes" -> "B", "spark.spill_bytes" -> "B",
        "spark.gc_s" -> "s", "spark.peak_heap_mb" -> "MiB",
        "spark.unattributed_s" -> "s",
        "trace.first_pass_s" -> "s", "trace.pass_s" -> "s", "trace.plain_pass_s" -> "s",
        "trace.overhead_s" -> "s") ++
      opSpans.flatMap(o => Seq(s"spark.tasks.${o.key}" -> "count",
        s"spark.exchanges.${o.key}" -> "count"))
  }

  def metrics(spans: Seq[Span], stages: Seq[StageRec], jobSpans: Seq[Int],
              phases: Seq[(Long, Long, Long)], cores: Int): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    def subtree(s: Span): Set[Int] =
      kids.getOrElse(s.id, Nil).flatMap(subtree).toSet + s.id
    def under(name: String): Set[Int] =
      spans.filter(_.name == name).flatMap(subtree).toSet
    def stagesIn(ids: Set[Int]) = stages.filter(st => ids(st.span))
    def dur(name: String) = spans.filter(_.name == name).map(_.seconds).sum
    val m = scala.collection.mutable.Map.empty[String, Double]

    val passRoot = spans.find(s => s.name == "pass" && s.parent == -1)
    val opSpans = passRoot.toSeq.flatMap(p => kids.getOrElse(p.id, Nil))
    for (o <- opSpans) m(opMetric(o.name)) = o.seconds
    val opKeys = Workloads.all.flatMap(_.ops).map(o => o.span -> o.key).toMap
    for (o <- opSpans; key <- opKeys.get(o.name)) {
      val st = stagesIn(subtree(o))
      m(s"spark.tasks.$key") = st.map(_.tasks).sum
      m(s"spark.exchanges.$key") = st.count(_.shuffleMap)
    }

    for (n <- LayerSpans) m(s"${n}_s") = dur(n)
    m("io.read_rows") = stagesIn(under("io.read")).map(_.recordsRead).sum
    m("ops.asof_exchanges") = stagesIn(under("ops.asof")).count(_.shuffleMap)
    val opsK = m("ops.wave_stats_s") + m("ops.diwasp_s")
    m("kernels.share") =
      if (opsK > 0) (m("kernels.welch_s") + m("kernels.diwasp_s")) / opsK else 0.0

    m("queries.construct_s") = dur("queries.construct")
    m("queries.exec_s") = dur("queries.exec")
    m("queries.analysis_s") = phases.map(_._1).sum / 1000.0
    m("queries.optimize_s") = phases.map(_._2).sum / 1000.0
    m("queries.plan_s") = phases.map(_._3).sum / 1000.0

    val passIds = passRoot.map(subtree).getOrElse(Set.empty)
    val st = stagesIn(passIds)
    val passS = opSpans.map(_.seconds).sum
    val cpu = st.map(_.cpuNs).sum / 1e9
    m("trace.pass_s") = passS
    m("spark.jobs") = jobSpans.count(passIds)
    m("spark.stages") = st.size
    m("spark.tasks") = st.map(_.tasks).sum
    m("spark.exchanges") = st.count(_.shuffleMap)
    m("spark.stage_wall_s") = st.map(s => s.completeMs - s.submitMs).sum / 1000.0
    m("spark.task_cpu_s") = cpu
    m("spark.cpu_util") = if (passS > 0) cpu / (passS * cores) else 0.0
    m("spark.shuffle_read_bytes") = st.map(_.shuffleRead).sum
    m("spark.shuffle_write_bytes") = st.map(_.shuffleWrite).sum
    m("spark.spill_bytes") = st.map(_.spill).sum
    m("spark.unattributed_s") = math.max(0.0,
      passS - Tracer.unionNs(st.map(s => (s.submitMs * 1000000L, s.completeMs * 1000000L))) / 1e9)
    m.toMap
  }
}
