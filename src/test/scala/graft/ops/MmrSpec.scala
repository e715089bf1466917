package graft.ops

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** MMR semantics: step 1 is the pure relevance argmax, selections are
  * distinct, and against a corpus with a tight near-duplicate cluster the
  * λ = 1/2 selection is provably more diverse than plain top-m (it must
  * escape the cluster; plain top-m cannot). */
class MmrSpec extends AnyFunSuite with SharedSpark {

  private def df(rows: Seq[(Long, Array[Float])]) = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  test("escapes a near-dup cluster that plain top-m cannot leave") {
    // query 0 = e1; ids 1..5 a tight cluster hugging e1 (rel ~0.999,
    // pairwise ~1.0); ids 6..8 moderately relevant but mutually orthogonal
    val cluster = (1 to 5).map { i =>
      val eps = 0.01f * i
      (i.toLong, Array(1f, eps, 0f, 0f))
    }
    val diverse = Seq(
      (6L, Array(0.8f, 0.6f, 0f, 0f)),
      (7L, Array(0.8f, 0f, 0.6f, 0f)),
      (8L, Array(0.8f, 0f, 0f, 0.6f)))
    val data = df(Seq((0L, Array(1f, 0f, 0f, 0f))) ++ cluster ++ diverse)

    val sel = Similarity.mmrSelect(data, "vec_id", "embedding",
        col("vec_id") === 0, nCand = 8, m = 5)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(sel.length == 5)
    assert(sel.map(_._2).distinct.length == 5, "selections must be distinct")
    // step 1 = highest relevance = the tightest cluster member (id 1)
    assert(sel.head._2 == 1L)
    // diversity: the cluster penalty pushes steps 2-3 out to the
    // orthogonal vectors 7/8 (6 shares the cluster's e2 lean, so plain
    // MMR may rightly defer it) — plain top-m can never leave the cluster
    assert(sel.slice(1, 3).map(_._2).forall(Set(6L, 7L, 8L)),
      s"got ${sel.mkString(", ")}")
    // plain top-5 by relevance stays entirely inside the cluster
    val top5 = Similarity.bruteTopK(data, "vec_id", "embedding", 5)
      .filter(col("vec_id") === 0).collect().map(_.getLong(1)).toSet
    assert(top5 == Set(1L, 2L, 3L, 4L, 5L))
  }

  test("relevance column matches the candidate cosine, maxsim grows") {
    val data = df((0L to 9L).map(i =>
      (i, Array((10 - i).toFloat, i.toFloat, 1f, 0f))))
    val sel = Similarity.mmrSelect(data, "vec_id", "embedding",
        col("vec_id") === 0, nCand = 6, m = 3)
      .collect().map(r => (r.getInt(1), r.getDouble(3), r.getDouble(4)))
      .sortBy(_._1)
    assert(sel.head._3 == 0.0) // step 1 has no selected set yet
    sel.foreach { case (_, rel, ms) =>
      assert(rel <= 1.0 + 1e-9 && ms <= 1.0 + 1e-9)
    }
  }
}
