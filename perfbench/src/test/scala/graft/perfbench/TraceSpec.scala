package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def nested(): Seq[Span] = {
    val groups = scala.collection.mutable.ArrayBuffer.empty[String]
    val tr = new Tracer(true, g => groups += g, () => groups += "cleared")
    tr.newTrace()
    tr.span("pass") {
      tr.span("a")(Thread.sleep(3))
      tr.span("b") {
        tr.span("b1")(Thread.sleep(2))
        Thread.sleep(1)
      }
    }
    assert(groups.last == "cleared")
    assert(groups.contains(Tracer.group(0)))
    tr.spans
  }

  test("child spans lie inside their parents and share the parent's trace") {
    val spans = nested()
    val byId = spans.map(s => s.id -> s).toMap
    assert(spans.map(_.name).toSet == Set("pass", "a", "b", "b1"))
    for (s <- spans if s.parent >= 0) {
      val p = byId(s.parent)
      assert(p.startNs <= s.startNs && s.endNs <= p.endNs, s"${s.name} escapes ${p.name}")
      assert(p.trace == s.trace)
    }
    assert(byId.values.find(_.name == "b1").map(s => byId(s.parent).name).contains("b"))
  }

  test("self time is the duration minus the children's union, never negative") {
    val spans = nested()
    val self = Tracer.selfTimes(spans)
    assert(self.values.forall(_ >= 0.0))
    val pass = spans.find(_.name == "pass").get
    val kids = spans.filter(_.parent == pass.id)
    val expect = pass.seconds - kids.map(_.seconds).sum
    assert(math.abs(self(pass.id) - expect) < 1e-9)
    // a leaf's self time is its whole duration
    val a = spans.find(_.name == "a").get
    assert(self(a.id) == a.seconds)
  }

  test("overlapping children are merged, so self time stays >= 0") {
    val parent = Span(0, "p", -1, 1, 0L, 100L)
    val kids = Seq(Span(1, "x", 0, 1, 10L, 80L), Span(2, "y", 0, 1, 50L, 120L))
    val self = Tracer.selfTimes(parent +: kids)
    assert(self(0) == 10L / 1e9) // [10, 100) of [0, 100) is covered
    assert(Tracer.unionNs(Seq((0L, 5L), (3L, 9L), (20L, 21L), (7L, 7L))) == 10L)
  }

  test("a disabled tracer records nothing and runs the body") {
    val tr = new Tracer(false, _ => fail("no job group when tracing is off"))
    assert(tr.span("x")(41 + 1) == 42)
    assert(tr.spans.isEmpty)
  }
}
