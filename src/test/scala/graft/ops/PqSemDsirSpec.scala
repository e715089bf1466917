package graft.ops

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-7 pipeline operators: product quantization (codes + IVF-PQ ADC),
  * SemDeDup cluster-scoped semantic dedup, and DSIR importance selection. */
class PqSemDsirSpec extends AnyFunSuite with SharedSpark {
  private def vecs(n: Int, dims: Int, seed: Int): Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, Array.tabulate(dims)(_ => rnd.nextFloat())))
  }

  test("pq codes are valid codeword ids and ADC equals LUT reconstruction") {
    import spark.implicits._
    val dims = 8; val m = 2; val ksub = 4; val dsub = dims / m
    val rows = vecs(30, dims, 11)
    val df = rows.toDF("vec_id", "embedding")
    val model = Similarity.pqModel(df, "vec_id", "embedding", dims, m, ksub, 2)
    assert(model.length == m && model.forall(_.length == ksub)
      && model.forall(_.forall(_.length == dsub)))

    val codes = Similarity.pqCodes(df, "vec_id", "embedding", dims, m, ksub, 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(codes.size == 30 * m)
    assert(codes.values.forall(c => c >= 0 && c < ksub))

    // every code is the argmin codeword for the quantized subvector
    val raw = rows.toMap
    def quant(v: Double) = math.floor(v * 1e6) / 1e6
    for (((id, s), c) <- codes) {
      val x = raw(id).slice(s * dsub, (s + 1) * dsub).map(f => quant(f.toDouble))
      def d2(cw: Array[Double]) =
        cw.map(v => v * v).sum - 2.0 * x.zip(cw).map { case (a, b) => a * b }.sum
      val best = model(s).zipWithIndex.minBy { case (cw, j) => (d2(cw), j) }._2
      assert(c == best.toLong, s"vec $id sub $s")
    }

    // ADC score = sum over subspaces of dot(raw query subvector, codeword)
    val top = Similarity.pqTopK(df, "vec_id", "embedding", dims, m, ksub,
      iters = 2, nCells = 2, cellIters = 2, k = 3).collect()
    assert(top.nonEmpty)
    val perQ = top.groupBy(_.getLong(0))
    assert(perQ.values.forall(_.length <= 3))
    for (r <- top) {
      val (q, nb, adc) = (r.getLong(0), r.getLong(2), r.getDouble(3))
      val want = (0 until m).map { s =>
        val qs = raw(q).slice(s * dsub, (s + 1) * dsub).map(_.toDouble)
        val cw = model(s)(codes((nb, s)).toInt)
        qs.zip(cw).map { case (a, b) => a * b }.sum
      }.reduceLeft(_ + _)
      assert(math.abs(adc - want) < 1e-12, s"q $q nb $nb")
    }
  }

  test("semdedup keeps no within-cell pair above tau and always keeps the cell minimum") {
    import spark.implicits._
    val dims = 8
    // clusters of near-duplicates: groups of 3 share a base vector + tiny noise
    val rnd = new scala.util.Random(7)
    val rows = (0 until 30).map { i =>
      val base = Array.tabulate(dims)(d => math.sin((i / 3 + 1.0) * (d + 1)))
      (i.toLong, base.map(v => (v + rnd.nextDouble() * 0.01).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val tau = 0.95
    val kept = Dedup.semDedup(df, "vec_id", "embedding", dims,
      nCells = 4, iters = 2, tau = tau).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(kept.nonEmpty && kept.length < 30) // near-dups were dropped

    val (_, assignedDf) =
      Similarity.kmeansLoop(df, "vec_id", "embedding", 4, dims, 2)
    val cellOf = assignedDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val keptIds = kept.map(_._1).toSet
    def unit(a: Array[Float]): Array[Double] = {
      val d = a.map(_.toDouble); val n = math.sqrt(d.map(v => v * v).sum)
      d.map(_ / n)
    }
    val e = rows.map { case (id, a) => id -> unit(a) }.toMap
    def cos(a: Long, b: Long): Double =
      e(a).zip(e(b)).map { case (x, y) => x * y }.sum
    // no two kept vectors in one cell are within tau
    for (a <- keptIds; b <- keptIds if a < b && cellOf(a) == cellOf(b))
      assert(cos(a, b) < tau, s"kept pair $a,$b")
    // the minimum id of every cell has no lower-id witness -> always kept
    for ((cell, members) <- (0L until 30L).groupBy(cellOf))
      assert(keptIds.contains(members.min), s"cell $cell min")
  }

  test("dsir ranks target-vocabulary documents above off-distribution ones") {
    import spark.implicits._
    val target = (0 until 20).map(i =>
      (i.toLong, "alpha beta gamma delta alpha beta", "en"))
    val drift = (20 until 40).map(i =>
      (i.toLong, "zeta eta theta iota zeta eta", "xx"))
    val mixed = (40 until 50).map(i =>
      (i.toLong, "alpha beta gamma delta alpha beta", "xx"))
    val df = (target ++ drift ++ mixed).toDF("doc_id", "text", "lang")
    val out = Curation.dsirSelect(df, "doc_id", "text",
      col("lang") === "en", buckets = 64, topK = 30).collect()
    assert(out.length == 30)
    val scores = out.map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // deterministic: rerun produces identical scores
    val again = Curation.dsirSelect(df, "doc_id", "text",
      col("lang") === "en", buckets = 64, topK = 30).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(scores == again)
    // every target-vocabulary doc (target + mixed) outranks every drift doc
    val sel = out.map(_.getLong(0)).toSet
    assert((0L until 20L).forall(sel) && (40L until 50L).forall(sel))
    assert((20L until 40L).forall(id => !sel(id)))
    val tgtMin = (target ++ mixed).map(t => scores(t._1)).min
    assert(out.map(_.getDouble(2)).forall(_ >= tgtMin - 1e-12))
  }
}
