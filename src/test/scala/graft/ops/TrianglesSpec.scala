package graft.ops

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

/** Exact and DOULION triangle counting over the near-dup graph:
  * canonical-orientation exactness on known graphs, den=1 degeneration to
  * the exact counts, and the deterministic-sampling estimate quality on a
  * clique (the hash coin makes the estimate a fixed number — no flake). */
class TrianglesSpec extends AnyFunSuite with SharedSpark {
  private def cliqueEdges(n: Int) = {
    import spark.implicits._
    (for (a <- 0 until n; b <- a + 1 until n) yield (a.toLong, b.toLong))
      .toDF("id_a", "id_b")
  }

  test("exact: K5 has C(5,3)=10 triangles, 6 per node; a path has none") {
    import spark.implicits._
    val k5 = Dedup.triangles(cliqueEdges(5), "id").collect()
    assert(k5.length == 5 && k5.forall(_.getLong(1) == 6L))
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    assert(Dedup.triangles(path, "id").count() == 0)
    Spread.release(spark)
  }

  test("doulion with den=1 IS the exact count") {
    val exact = Dedup.triangles(cliqueEdges(8), "id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val d1 = Dedup.trianglesDoulion(cliqueEdges(8), "id", den = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d1 == exact)
    Spread.release(spark)
  }

  test("doulion den=2 on K40: deterministic and near the exact total") {
    val exactTotal = 3L * 9880L // each of C(40,3) triangles counted at 3 nodes
    def total() = Dedup.trianglesDoulion(cliqueEdges(40), "id", den = 2)
      .agg(org.apache.spark.sql.functions.sum("est_triangles"))
      .head().getLong(0)
    val t1 = total(); val t2 = total()
    assert(t1 == t2, "hash-coin sampling must be deterministic")
    assert(t1 > exactTotal / 2 && t1 < exactTotal * 2,
      s"estimate $t1 vs exact $exactTotal")
    Spread.release(spark)
  }
}
