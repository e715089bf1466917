package graft.ops

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SQ8 scalar-quantizer invariants: code range, reconstruction error
  * bound, and ANN ranking fidelity of the integer-dot scoring. */
class Sq8Spec extends AnyFunSuite with SharedSpark {
  private def vecs(n: Int, dims: Int, seed: Int): Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, Array.tabulate(dims)(_ => rnd.nextFloat())))
  }

  test("sq8 codes are in [0,255]; per-dim error <= span/510; extremes hit 0/255") {
    import spark.implicits._
    val dims = 8
    val rows = vecs(60, dims, 7)
    val df = rows.toDF("vec_id", "embedding")
    val enc = Similarity.sq8Encoded(df, "vec_id", "embedding", dims).collect()
    val raw = rows.toMap
    val mins = (0 until dims).map(i => raw.values.map(_(i).toDouble).min)
    val maxs = (0 until dims).map(i => raw.values.map(_(i).toDouble).max)
    enc.foreach { r =>
      val id = r.getLong(r.fieldIndex("vec_id"))
      val q = r.getSeq[Int](r.fieldIndex("q"))
      assert(q.forall(v => v >= 0 && v <= 255))
      // reconstruction is within half a quantization step per dimension
      (0 until dims).foreach { i =>
        val span = maxs(i) - mins(i)
        val recon = mins(i) + q(i) * span / 255.0
        assert(math.abs(raw(id)(i).toDouble - recon) <= span / 510.0 + 1e-12,
          s"id=$id dim=$i")
      }
    }
    // the min/max vector components must map to the code extremes
    val codesByDim = enc.map { r =>
      (r.getLong(r.fieldIndex("vec_id")), r.getSeq[Int](r.fieldIndex("q")))
    }.toMap
    (0 until dims).foreach { i =>
      val loId = raw.minBy(_._2(i))._1
      val hiId = raw.maxBy(_._2(i))._1
      assert(codesByDim(loId)(i) == 0 && codesByDim(hiId)(i) == 255)
    }
  }

  test("sq8ReconStats: mse <= max_abs_err^2; qsum matches encoded codes") {
    import spark.implicits._
    val df = vecs(40, 8, 13).toDF("vec_id", "embedding")
    val stats = Similarity.sq8ReconStats(df, "vec_id", "embedding", 8).collect()
    val qsums = Similarity.sq8Encoded(df, "vec_id", "embedding", 8)
      .select(col("vec_id"), expr("aggregate(q, 0L, (a, v) -> a + v)"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stats.length == 40)
    stats.foreach { r =>
      val (id, qsum, mse, mx) = (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))
      assert(qsum == qsums(id))
      assert(mse <= mx * mx + 1e-12 && mse >= 0)
    }
  }

  test("sq8TopK ranks like exact cosine on well-separated clusters") {
    import spark.implicits._
    // two tight clusters far apart: int8 rounding noise cannot flip
    // within-cluster vs cross-cluster ordering
    val rnd = new scala.util.Random(3)
    val rows = (0 until 20).map { i =>
      val base = if (i < 10) 0.1f else 0.9f
      (i.toLong, Array.tabulate(8)(_ => base + rnd.nextFloat() * 0.05f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val top = Similarity.sq8TopK(df, "vec_id", "embedding", dims = 8,
      nCells = 2, cellIters = 2, k = 3).collect()
    assert(top.nonEmpty)
    top.foreach { r =>
      val (id, nb) = (r.getLong(0), r.getLong(2))
      assert((id < 10) == (nb < 10), s"cross-cluster neighbor: $id -> $nb")
      assert(r.getInt(4) >= 1 && r.getInt(4) <= 3)
    }
  }
}
