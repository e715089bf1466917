package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

class MetricsSpec extends AnyFunSuite {

  private lazy val spec: JsonNode = {
    val f = Seq(new java.io.File("../BENCHMARK.json"), new java.io.File("BENCHMARK.json"))
      .find(_.isFile).getOrElse(fail("BENCHMARK.json not found"))
    new ObjectMapper().readTree(f)
  }
  private def listed(kind: String): Seq[(String, String)] =
    spec.get(kind).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  private val NameRe = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}"

  test("every metric name matches [A-Za-z0-9_.-]+ and is used once") {
    val all = listed("end_to_end") ++ listed("per_layer") ++ Layers.names
    for ((n, u) <- all) {
      assert(n.matches(NameRe), n)
      assert(u.matches("[A-Za-z0-9_/%.-]{1,16}"), s"$n unit $u")
    }
    for (kind <- Seq("end_to_end", "per_layer"))
      assert(listed(kind).map(_._1).distinct.size == listed(kind).size, kind)
  }

  test("BENCHMARK.json lists exactly the metrics the harness emits") {
    assert(listed("per_layer").toSet == Layers.names.toSet)
    val e2e = Main.endToEnd(Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0), 100L)
    assert(listed("end_to_end").toSet == e2e.map { case (n, (_, u)) => n -> u }.toSet)
    assert(e2e.forall(_._2._1 > 0))
    assert(spec.get("workloads").elements().asScala.map(_.get("name").asText).toSet ==
      Workloads.all.map(_.name).toSet)
  }

  test("every named metric is emitted for the workloads it applies to") {
    for (w <- Workloads.all) {
      // a traced iteration: pass -> one span per op (each with a stage),
      // then the workload's layer spans, each with a shuffle-map stage
      var id = 0
      def span(name: String, parent: Int, t0: Long, t1: Long) = {
        id += 1; Span(id, name, parent, 1, t0, t1)
      }
      val pass = span("pass", -1, 0L, 10000000000L)
      val ops = w.ops.zipWithIndex.map { case (o, i) =>
        span(o.span, pass.id, i * 100000000L, (i + 1) * 100000000L) }
      val layers = Layers.LayerSpans.map(n => span(n, -1, 0L, 1000000L))
      val stages = (ops ++ layers).map(s =>
        StageRec(s.id, s.startNs / 1000000L, s.endNs / 1000000L, 4, shuffleMap = true,
          1000000L, 10L, 10L, 0L, 5L))
      val m = Layers.metrics(pass +: (ops ++ layers), stages, ops.map(_.id), Seq((1L, 2L, 3L)), 4)
      for (o <- w.ops) {
        assert(m(Layers.opMetric(o.span)) > 0, s"${w.name} ${o.span}")
        assert(m(s"spark.tasks.${o.key}") == 4.0)
        assert(m(s"spark.exchanges.${o.key}") == 1.0)
      }
      for (n <- Layers.LayerSpans) assert(m(s"${n}_s") > 0, n)
      for (n <- Seq("io.read_rows", "ops.asof_exchanges", "queries.analysis_s",
                    "queries.optimize_s", "queries.plan_s", "spark.jobs", "spark.tasks",
                    "spark.exchanges", "spark.task_cpu_s", "trace.pass_s"))
        assert(m(n) > 0, n)
      // everything the traced run reports beyond these comes from the run
      // itself (GC, heap, overhead) or from the workload's own extras
      val fromRun = Set("spark.gc_s", "spark.peak_heap_mb", "pass.output_bytes",
        "trace.plain_pass_s", "trace.first_pass_s", "trace.overhead_s", "kernels.flops", "kernels.bytes",
        "io.bytes_written")
      val missing = Layers.names.map(_._1).filterNot(n => m.contains(n) || fromRun(n))
      val otherOps = Workloads.all.filterNot(_ == w).flatMap(_.ops)
        .flatMap(o => Seq(Layers.opMetric(o.span), s"spark.tasks.${o.key}", s"spark.exchanges.${o.key}"))
      assert(missing.toSet.subsetOf(otherOps.toSet), missing)
    }
  }

  test("median") {
    assert(Main.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Main.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }
}
