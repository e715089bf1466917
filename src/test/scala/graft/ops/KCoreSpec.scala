package graft.ops

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

/** k-core peel: survivors must be exactly the maximal subgraph with
  * within-subgraph degree ≥ k. The dangerous shape is the CASCADE — a
  * chain attached to a clique peels one node per round, so a too-small
  * round bound silently leaves chain remnants in the "core". */
class KCoreSpec extends AnyFunSuite with SharedSpark {
  /** Exact referee: peel to fixpoint on an adjacency map. */
  private def referee(n: Int, edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    var surv = (0L until n.toLong).toSet
    var changed = true
    var deg = Map.empty[Long, Long]
    while (changed) {
      deg = edges.filter { case (a, b) => surv(a) && surv(b) }
        .flatMap { case (a, b) => Seq(a, b) }
        .groupBy(identity).map { case (id, xs) => id -> xs.size.toLong }
      val next = surv.filter(id => deg.getOrElse(id, 0L) >= k)
      changed = next != surv
      surv = next
    }
    deg.filter { case (id, d) => surv(id) && d >= k }
  }

  private def run(n: Int, edges: Seq[(Long, Long)], k: Int, rounds: Int): Map[Long, Long] = {
    import spark.implicits._
    Dedup.kCore(edges.toDF("id_a", "id_b"), (0L until n.toLong).toDF("id"),
        "id", k, rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("chain-on-clique cascade peels fully (one node per round)") {
    // triangle {0,1,2} + tail 2-3-4-5: at k=2 the tail peels from node 5
    // inward, one node per round — needs 3 rounds to converge
    val edges = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val got = run(6, edges, k = 2, rounds = 5)
    assert(got == Map(0L -> 2L, 1L -> 2L, 2L -> 2L))
  }

  test("random graphs match the exact fixpoint referee") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val n = 60
      val edges = (1 to 110).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      for (k <- Seq(2, 3)) {
        val want = referee(n, edges, k)
        val got = run(n, edges, k, rounds = 30)
        assert(got == want, s"trial $trial k=$k")
      }
    }
  }

  test("empty graph and k larger than any degree both yield empty cores") {
    import spark.implicits._
    assert(run(5, Seq((0L, 1L)), k = 2, rounds = 4).isEmpty)
    assert(Dedup.kCore(Seq.empty[(Long, Long)].toDF("id_a", "id_b"),
      (0L until 3L).toDF("id"), "id", 1, 4).count() == 0)
  }
}
