package graft.ops

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

/** Randomized BPE equivalence against an INDEPENDENT in-test reference
  * implementation of Sennrich greedy BPE (word-frequency training, ties
  * broken (count desc, left, right), left-to-right non-cascading merge) —
  * the distributed trainer must match it corpus-for-corpus. */
class BpePropertySpec extends AnyFunSuite with SharedSpark {

  // ---- reference implementation (plain Scala, no shared code) ----
  private def refTrain(texts: Seq[String], k: Int): Seq[(Int, String, String, Long)] = {
    var words: Map[Vector[String], Long] = texts
      .flatMap(_.toLowerCase.split(" ").filter(_.nonEmpty))
      .groupBy(identity).map { case (w, g) => w.map(_.toString).toVector -> g.size.toLong }
    val out = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    for (step <- 1 to k) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((sym, cnt) <- words; i <- 0 until sym.length - 1)
        counts((sym(i), sym(i + 1))) = counts.getOrElse((sym(i), sym(i + 1)), 0L) + cnt
      if (counts.nonEmpty) {
        val ((l, r), c) = counts.minBy { case ((a, b), n) => (-n, a, b) }
        out += ((step, l, r, c))
        words = words.map { case (sym, cnt) =>
          val b = scala.collection.mutable.ArrayBuffer[String]()
          var i = 0
          while (i < sym.length) {
            if (i + 1 < sym.length && sym(i) == l && sym(i + 1) == r) {
              b += l + r; i += 2 // greedy left-to-right, no re-merge
            } else { b += sym(i); i += 1 }
          }
          b.toVector -> cnt
        }.groupBy(_._1).map { case (sym, g) => sym -> g.map(_._2).sum }
      }
    }
    out.toSeq
  }

  test("distributed trainer matches the reference on randomized corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260813L)
    val alphabet = "abcd"
    for (trial <- 1 to 8) {
      val words = Seq.fill(6 + rnd.nextInt(10))(
        Seq.fill(1 + rnd.nextInt(6))(alphabet(rnd.nextInt(alphabet.length))).mkString)
      val texts = Seq.fill(3 + rnd.nextInt(5))(
        Seq.fill(2 + rnd.nextInt(12))(words(rnd.nextInt(words.size))).mkString(" "))
      val k = 1 + rnd.nextInt(5)
      val expected = refTrain(texts, k)
      val got = Bpe.train(texts.toDF("text"), "text", k)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq.sortBy(_._1)
      assert(got == expected, s"trial $trial (k=$k, corpus=$texts)")
    }
  }
}
