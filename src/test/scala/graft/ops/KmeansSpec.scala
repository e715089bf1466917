package graft.ops

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

/** Lloyd's k-means on well-separated clusters must recover them exactly,
  * with centroids equal to the quantized member means. */
class KmeansSpec extends AnyFunSuite with SharedSpark {
  test("two separated blobs -> two pure clusters with exact-mean centroids") {
    import spark.implicits._
    // blob A around (0,0,...), blob B around (10,10,...); seeds are ids 0,1
    // (one in each blob), so one round converges and stays fixed
    val dims = 4
    val rnd = new scala.util.Random(5)
    val rows = (0 until 40).map { i =>
      val base = if (i % 2 == 0) 0.0 else 10.0
      (i.toLong, Array.tabulate(dims)(_ => (base + rnd.nextDouble()).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val assign = Similarity.kmeansAssign(df, "vec_id", "embedding", 2, dims, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // purity: every even id shares cluster 0's seed (id 0), odd ids id 1's
    assert((0 until 40).forall(i => assign(i.toLong) == (i % 2).toLong))
    val cents = Similarity.kmeansCentroids(df, "vec_id", "embedding", 2, dims, 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    // centroid = mean of the micro-quantized members, exactly
    for (c <- 0 to 1; d <- 1 to dims) {
      val members = rows.filter(_._1 % 2 == c)
        .map(r => math.floor(r._2(d - 1).toDouble * 1e6))
      val want = members.sum / (1e6 * members.size)
      assert(cents((c.toLong, d)) == want, s"cent $c dim $d")
    }
  }

  test("cell outliers: a planted far vector is flagged, tight members are not") {
    import spark.implicits._
    val dims = 4
    val rnd = new scala.util.Random(11)
    // two tight blobs + one vector pushed far from blob A's centre
    val rows = (0 until 40).map { i =>
      val base = if (i % 2 == 0) 0.0 else 10.0
      val noise = if (i == 38) 4.0 else 0.1 // id 38 is the planted outlier
      (i.toLong, Array.tabulate(dims)(_ => (base + noise * rnd.nextDouble()).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val out = Similarity.cellOutliers(df, "vec_id", "embedding",
      k = 2, dims = dims, iters = 3, z = 2.0).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.size == 40)
    assert(out(38L).getAs[Int]("is_outlier") == 1, "planted outlier missed")
    // the planted vector has the largest z-score in the corpus (others may
    // legitimately cross 2σ in a tight cell; the plant must dominate)
    val zs = out.values.flatMap(r => Option(r.getAs[java.lang.Double]("zscore")))
      .map(_.doubleValue)
    assert(out(38L).getAs[Double]("zscore") == zs.max)
    assert(out(38L).getAs[Double]("zscore") > 2.0)
    assert(out.values.map(_.getAs[Int]("is_outlier")).sum <= 4)
    // every vector got a finite distance and a cell from the trained set
    assert(out.values.forall(r => r.getAs[Long]("d2_micro") >= 0 &&
      Set(0L, 1L)(r.getAs[Long]("cell"))))
  }

  test("JL projection preserves pairwise distances on average") {
    import spark.implicits._
    val dims = 64
    val rnd = new scala.util.Random(13)
    val rows = (0L until 30L).map(i =>
      (i, Array.fill(dims)(rnd.nextGaussian().toFloat)))
    val df = rows.toDF("vec_id", "embedding")
    val proj = Similarity.jlProject(df, "vec_id", "embedding", dims, 16)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) =>
        id -> rs.sortBy(_.getInt(1)).map(_.getDouble(2))
      }
    assert(proj.size == 30 && proj.values.forall(_.length == 16))
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val orig = rows.map { case (id, v) => id -> v.map(_.toDouble) }.toMap
    val ratios = for (i <- 0L until 30L; j <- (i + 1) until 30L) yield
      d2(proj(i).toArray, proj(j).toArray) / d2(orig(i), orig(j))
    val mean = ratios.sum / ratios.size
    // k=16 JL: individual ratios are noisy, the mean must hug 1
    assert(mean > 0.7 && mean < 1.3, f"mean distance ratio $mean%.3f")
    assert(ratios.count(r => r > 0.2 && r < 3.0) >= ratios.size * 9 / 10)
  }

  test("silhouette: separated blobs score near 1, a midpoint scores near 0") {
    import spark.implicits._
    val dims = 4
    val rnd = new scala.util.Random(9)
    val rows = (0 until 40).map { i =>
      val base = if (i % 2 == 0) 0.0 else 10.0
      (i.toLong, Array.tabulate(dims)(_ => (base + rnd.nextDouble()).toFloat))
    } :+ (99L, Array.fill(dims)(5.25f)) // near-midpoint straggler
    val df = rows.toDF("vec_id", "embedding")
    val sil = Similarity.cellSilhouette(df, "vec_id", "embedding", 2, dims, 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(sil.values.map(_._1).sum == 41L)
    // tight blobs far from the other centroid: mean silhouette high even
    // with the straggler diluting one cell
    assert(sil.values.forall(_._2 > 0.8), s"$sil")
    // the straggler alone: recompute per-point to confirm the midpoint is
    // the weak member (drop it -> its cell's mean rises)
    val silClean = Similarity.cellSilhouette(
        rows.init.toDF("vec_id", "embedding"), "vec_id", "embedding", 2, dims, 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val dirty = sil.map { case (c, (_, m)) => c -> m }
    assert(silClean.exists { case (c, m) => m > dirty(c) + 0.01 },
      "removing the midpoint straggler must raise its cell's mean silhouette")
  }
}
