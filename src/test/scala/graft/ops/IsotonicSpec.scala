package graft.ops

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

/** The minimax closed form must equal classic pool-adjacent-violators,
  * and the output must be monotone and weighted-mean-preserving. */
class IsotonicSpec extends AnyFunSuite with SharedSpark {
  /** Classic stack PAV over (weight, value) in bin order. */
  private def pav(bins: Seq[(Int, Long, Long)]): Map[Int, Double] = {
    case class Block(w: Long, p: Long, members: List[Int])
    var stack = List.empty[Block]
    for ((bin, n, pos) <- bins.sortBy(_._1)) {
      var b = Block(n, pos, List(bin))
      while (stack.nonEmpty &&
        stack.head.p.toDouble / stack.head.w >= b.p.toDouble / b.w) {
        val t = stack.head; stack = stack.tail
        b = Block(t.w + b.w, t.p + b.p, t.members ++ b.members)
      }
      stack = b :: stack
    }
    stack.flatMap(b => b.members.map(_ -> b.p.toDouble / b.w)).toMap
  }

  test("matches stack PAV on random weighted bins; result is monotone") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    for (trial <- 1 to 4) {
      val bins = (-8 to 8).map(b =>
        (b, 1L + rnd.nextInt(50).toLong, rnd.nextInt(40).toLong))
        .map { case (b, n, p) => (b, n, math.min(p, n)) }
      val want = pav(bins)
      val got = Curation.isotonicFit(bins.toDF("bin", "n_docs", "n_pos"))
        .collect().map(r => r.getInt(0) -> r.getDouble(4)).toMap
      for ((bin, v) <- want)
        assert(math.abs(got(bin) - v) < 1e-8, s"trial $trial bin $bin")
      val ordered = bins.map(_._1).sorted.map(got)
      assert(ordered.zip(ordered.tail).forall { case (a, b) => a <= b + 1e-12 },
        s"trial $trial not monotone")
      Spread.release(spark)
    }
  }

  test("a null bin or a null n_pos fails with the same message") {
    import spark.implicits._
    def fit(rows: Seq[(Option[Int], Long, Option[Long])]): String =
      intercept[IllegalArgumentException] {
        Curation.isotonicFit(rows.toDF("bin", "n_docs", "n_pos"))
      }.getMessage
    val nullBin = fit(Seq((Some(0), 5L, Some(1L)), (None, 5L, Some(2L))))
    val nullPos = fit(Seq((Some(0), 5L, Some(1L)), (Some(1), 5L, None)))
    assert(nullBin.contains("must be non-null"))
    assert(nullPos == nullBin)
  }
}
