package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval at a layer boundary. `parent` is the id of the span
  * that was open when this one started (-1 for a root); every span of one
  * pass shares `trace`. Times are `System.nanoTime` readings. */
final case class Span(id: Int, name: String, parent: Int, trace: Int,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for a single caller thread (the workloads are
  * closed loops driven from one thread). Spans are kept in a buffer and
  * written out once, when the run ends. With `enabled = false` a span is a
  * plain call: nothing is recorded and no Spark job group is set.
  *
  * While a span is open its id is the Spark job group, so the listener in
  * [[SparkCounters]] can charge every job (and its stages and tasks) to the
  * innermost span that launched it. */
final class Tracer(val enabled: Boolean,
                   setGroup: String => Unit = _ => (),
                   clearGroup: () => Unit = () => ()) {
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, Long)] = Nil
  private var nextId = 0
  private var traceId = 0

  /** Start a new trace id: every span opened from now on belongs to it. */
  def newTrace(): Int = { traceId += 1; traceId }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, name, System.nanoTime()) :: stack
      setGroup(Tracer.group(id))
      try body
      finally {
        val end = System.nanoTime()
        val (_, _, start) = stack.head
        stack = stack.tail
        stack.headOption match {
          case Some((pid, _, _)) => setGroup(Tracer.group(pid))
          case None => clearGroup()
        }
        done += Span(id, name, parent, traceId, start, end)
      }
    }

  def spans: Seq[Span] = done.toSeq
}

object Tracer {
  val GroupPrefix = "perfbench-span-"
  def group(id: Int): String = GroupPrefix + id
  def spanOf(group: String): Option[Int] =
    Option(group).filter(_.startsWith(GroupPrefix))
      .map(_.stripPrefix(GroupPrefix).toInt)

  /** Self time of every span: its duration minus the part of that interval
    * covered by its direct children (overlapping children are merged, so
    * the result is never negative). */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionNs(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.id -> math.max(0L, (s.endNs - s.startNs) - covered) / 1e9
    }.toMap
  }

  /** Total length of the union of half-open [start, end) intervals. */
  def unionNs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- intervals.filter(i => i._2 > i._1).sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** The spans as JSON lines, for the trace file written at the end. */
  def toJsonLines(spans: Seq[Span], self: Map[Int, Double]): Seq[String] =
    spans.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
        s""""trace":${s.trace},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""self_s":${Json.num(self.getOrElse(s.id, 0.0))}}"""
    }
}

/** The few JSON helpers the harness needs (no JSON library on the path). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
