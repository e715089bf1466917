package graft.ops

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

/** BPE merge-pair training — reference greedy semantics on known corpora. */
class BpeSpec extends AnyFunSuite with SharedSpark {

  private def train(texts: Seq[String], k: Int): Seq[(Int, String, String, Long)] = {
    import spark.implicits._
    Bpe.train(texts.toDF("text"), "text", k)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq.sortBy(_._1)
  }

  test("classic corpus learns frequency-ordered merges with cascade") {
    // 'low' x3 + 'lower' x2: pair (l,o) appears in 5 words, (o,w) in 5 —
    // tie broken lexicographically to (l,o); merge 2 then sees (lo,w) x5
    val m = train(Seq("low low low lower lower"), 3)
    assert(m(0) == ((1, "l", "o", 5L)))
    assert(m(1) == ((2, "lo", "w", 5L)))
    // after 'low' fuses: lower = [low, e, r] x2; singles: (low,e)=2,(e,r)=2
    assert(m(2)._1 == 3 && m(2)._4 == 2L)
    assert(Set(("low", "e"), ("e", "r")).contains((m(2)._2, m(2)._3)))
  }

  test("equal-symbol runs merge greedily left-to-right: aaa -> [aa, a]") {
    // corpus 'aaa': round 1 pair (a,a) counts both adjacencies (2), but the
    // merge must produce [aa, a] (not [a, aa] or [aa, aa]); round 2's top
    // pair is then (aa, a) with count 1
    val m = train(Seq("aaa"), 2)
    assert(m(0) == ((1, "a", "a", 2L)))
    assert(m(1) == ((2, "aa", "a", 1L)))
  }

  test("training stops early when no pairs remain") {
    val m = train(Seq("ab ab"), 5)
    assert(m.size == 1) // after (a,b) every word is a single symbol
    assert(m(0) == ((1, "a", "b", 2L)))
  }
}
