package graft.ops

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Connected components must label every node with the min id reachable
  * from it — including transitive merges the pair list never emitted. */
class CcSpec extends AnyFunSuite with SharedSpark {
  test("chains merge transitively; singletons keep their own id") {
    import spark.implicits._
    // components: {1,2,3,4} via chain 1-2, 2-3, 3-4; {10,11}; {20} singleton
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L))
      .toDF("id_a", "id_b")
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("id")
    val got = Dedup.connectedComponents(edges, nodes, "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("random graphs match a union-find referee") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 120
      val edges = (1 to 150).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // union-find referee with min-id labels
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
      val got = Dedup.connectedComponents(
          edges.toDF("id_a", "id_b"), (0L until n.toLong).toDF("id"), "id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"trial $trial")
    }
  }

  test("empty node table yields an empty labeling") {
    import spark.implicits._
    val got = Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"),
      Seq.empty[Long].toDF("id"), "id")
    assert(got.count() == 0)
    assert(got.columns.toSeq == Seq("id", "comp"))
  }

  test("long path converges within the iteration budget") {
    import spark.implicits._
    // a 30-node path graph: diameter 29 — plain propagation would need 29
    // rounds; pointer jumping gets there in O(log 29) ~ 6, well inside 25
    val edges = (0L until 29L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val nodes = (0L to 29L).toDF("id")
    val got = Dedup.connectedComponents(edges, nodes, "id").collect()
    assert(got.forall(_.getLong(1) == 0L), "all nodes must reach label 0")
  }

  test("pageRank: exact integer iteration on a path graph; hub dominates a star") {
    import spark.implicits._
    // path 1-2-3 plus isolated 9: hand-unrolled first iteration
    //   contrib: 1→2: 10⁶, 3→2: 10⁶, 2→{1,3}: 500000 each
    //   r1(1)=r1(3)=150000+425000, r1(2)=150000+1700000, r1(9)=150000
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val nodes = Seq(1L, 2L, 3L, 9L).toDF("id")
    val r1 = Dedup.pageRank(edges, nodes, "id", iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == Map(1L -> 575000L, 2L -> 1850000L, 3L -> 575000L,
      9L -> 150000L))
    // next iteration stays exact-integer: contrib 1→2 = 575000, 3→2 =
    // 575000, 2→1 = 2→3 = 1850000 div 2 = 925000
    val r2 = Dedup.pageRank(edges, nodes, "id", iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2(2L) == 150000L + (85L * (575000L + 575000L)) / 100L)
    assert(r2(1L) == 150000L + (85L * 925000L) / 100L)
    // star: hub 0 linked to 5 spokes out-ranks every spoke after 3 iters
    val star = (1L to 5L).map(i => (0L, i)).toDF("id_a", "id_b")
    val snodes = (0L to 5L).toDF("id")
    val pr = Dedup.pageRank(star, snodes, "id", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).forall(i => pr(0L) > pr(i)), s"hub must dominate: $pr")
    assert((1L to 5L).map(pr).distinct.size == 1, "spokes are symmetric")
  }
}
