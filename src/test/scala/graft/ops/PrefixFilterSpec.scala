package graft.ops

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

/** The prefix-filter Jaccard join is EXACT by contract: it must return the
  * same (id_a, id_b, jaccard) set as the all-pairs baseline for any input.
  * The dangerous corners are (a) near-threshold pairs where a too-short
  * prefix silently loses candidates (float-ceil rounding), (b) docs whose
  * shingle count is an exact multiple of the threshold denominator, and
  * (c) scope boundaries. */
class PrefixFilterSpec extends AnyFunSuite with SharedSpark {
  private def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("equals the all-pairs baseline on random near-dup corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val alphabet = "abcdefgh "
      def randText(len: Int): String =
        (1 to len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      // base docs + mutated near-dups (edit a few chars → Jaccard near 1)
      val base = (0 until 30).map(i => (i.toLong, s"s${i % 3}", randText(40 + rnd.nextInt(40))))
      val dups = base.filter(_._1 % 3 == 0).map { case (id, src, t) =>
        val arr = t.toCharArray
        arr(rnd.nextInt(arr.length)) = alphabet(rnd.nextInt(alphabet.length))
        (id + 1000L, src, new String(arr))
      }
      val df = (base ++ dups).toDF("doc_id", "source", "text")
      val want = pairsOf(Dedup.ngramJaccardPairs(df, "doc_id", "text", "source", 3, 0.8))
      val got = pairsOf(Dedup.jaccardPrefixPairs(df, "doc_id", "text", "source", 3, 4, 5))
      assert(got == want, s"trial $trial: prefix=${got.size} baseline=${want.size}")
      assert(want.nonEmpty, s"trial $trial produced no near-dup pairs — weak test")
      Spread.release(spark)
    }
  }

  test("exact-threshold pair (J = 4/5) and multiple-of-5 set sizes survive") {
    import spark.implicits._
    // two docs sharing exactly 4 of 5 union shingles: texts chosen so the
    // distinct 3-shingle sets are {abc,bcd,cde,def,efg} and {abc,bcd,cde,def,efh}
    // → |∩| = 4, |∪| = 6 … instead construct directly: doc sizes n=5, i=4
    // via texts "abcdefg" (5 shingles) and "abcdefh" (5 shingles, 4 shared)
    val df = Seq(
      (1L, "s", "abcdefg"),
      (2L, "s", "abcdefh"),
      (3L, "s", "zzzzzzz")).toDF("doc_id", "source", "text")
    // J(1,2) = 4/6 = 0.666 < 0.8 → with threshold 2/3 both paths must agree
    val want = pairsOf(Dedup.ngramJaccardPairs(df, "doc_id", "text", "source", 3, 2.0 / 3))
    val got = pairsOf(Dedup.jaccardPrefixPairs(df, "doc_id", "text", "source", 3, 2, 3))
    assert(got == want && want.exists { case (a, b, _) => a == 1L && b == 2L })
    Spread.release(spark)
  }

  test("non-Latin-1 text: packed rarest-first order stays injective") {
    import spark.implicits._
    // codepoints far above 255 (Greek + CJK) make shingle keys exceed 2^24;
    // the old df*2^24+key pack collided distinct (df, key) pairs here and
    // silently changed intersect counts vs the raw-key referees
    val rnd = new scala.util.Random(11)
    val alphabet = "αβγδεζηθικλμνξο世界文字データ "
    def randText(len: Int): String =
      (1 to len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    val base = (0 until 25).map(i => (i.toLong, s"s${i % 2}", randText(30 + rnd.nextInt(30))))
    val dups = base.filter(_._1 % 3 == 0).map { case (id, src, t) =>
      val arr = t.toCharArray
      arr(rnd.nextInt(arr.length)) = alphabet(rnd.nextInt(alphabet.length))
      (id + 1000L, src, new String(arr))
    }
    val df = (base ++ dups).toDF("doc_id", "source", "text")
    val wantJ = pairsOf(Dedup.ngramJaccardPairs(df, "doc_id", "text", "source", 3, 0.8))
    val gotJ = pairsOf(Dedup.jaccardPrefixPairs(df, "doc_id", "text", "source", 3, 4, 5))
    assert(gotJ == wantJ && wantJ.nonEmpty, s"jaccard: prefix=${gotJ.size} baseline=${wantJ.size}")
    def cPairs(d: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      d.select("id_a", "id_b", "n_shared").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val wantC = cPairs(Dedup.containmentPairs(df, "doc_id", "text", "source", 3, 4, 5))
    val gotC = cPairs(Dedup.containmentPrefixPairs(df, "doc_id", "text", "source", 3, 4, 5))
    assert(gotC == wantC && wantC.nonEmpty, s"containment: prefix=${gotC.size} baseline=${wantC.size}")
    Spread.release(spark)
  }

  test("identical docs across different scopes never pair") {
    import spark.implicits._
    val df = Seq((1L, "s0", "hello world hello"), (2L, "s1", "hello world hello"))
      .toDF("doc_id", "source", "text")
    assert(Dedup.jaccardPrefixPairs(df, "doc_id", "text", "source", 3, 4, 5).count() == 0)
    Spread.release(spark)
  }

  test("containmentMark: one row per contained doc, max-overlap witness, min-id tie-break") {
    import spark.implicits._
    val df = Seq(
      // chain: 1 ⊂ 2 ⊂ 3 (prefix supersets) — doc 3 is never the smaller
      // side of a pair, so it must NOT appear as contained
      (1L, "s", "abcdefgh"),        // 6 distinct trigrams
      (2L, "s", "abcdefghijkl"),    // 10, fully contains doc 1
      (3L, "s", "abcdefghijklmnop"),// 14, fully contains 1 and 2
      // tie-break scope: doc 4's 4 trigrams appear whole in BOTH 5 and 6
      // (equal shared count 4) → witness must be the smaller id, 5;
      // 5 vs 6 share 4 of min-size 6 → 4/6 < 3/4, no pair between them
      (4L, "s2", "wxyzab"),
      (5L, "s2", "wxyzabcd"),
      (6L, "s2", "wxyzabef")).toDF("doc_id", "source", "text")
    val got = Dedup.containmentMark(df, "doc_id", "text", "source", 3, 3, 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).toSet
    // doc 1's best witness: both 2 and 3 hold all 6 trigrams (tie on
    // shared count) → min id 2; doc 2's only superset is 3
    assert(got == Set(
      (1L, 6, 6L, 1.0, 2L),
      (2L, 10, 10L, 1.0, 3L),
      (4L, 4, 4L, 1.0, 5L)), s"got $got")
    Spread.release(spark)
  }
}
