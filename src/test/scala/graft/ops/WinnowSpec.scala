package graft.ops

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

/** Winnowing fingerprint selection vs an independent in-test reference
  * (straight from the Schleimer/Wilkerson/Aiken definition — no shared
  * code with the Spark plan). */
class WinnowSpec extends AnyFunSuite with SharedSpark {
  private def md5h32(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    // first 8 hex chars = first 4 bytes, big-endian, as unsigned
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** Reference winnow: per window of w gram hashes, pick min hash with
    * rightmost tie-break; return distinct (pos, hash). */
  private def refWinnow(text: String, n: Int, w: Int): Set[(Long, Long)] = {
    val toks = text.split(" ").filter(_.nonEmpty)
    val grams = toks.sliding(n).filter(_.length == n).map(_.mkString(" ")).toArray
    val hs = grams.map(md5h32)
    (0 to hs.length - w).flatMap { s =>
      // rightmost minimum in hs[s .. s+w-1]
      var best = s
      for (i <- s until s + w) if (hs(i) <= hs(best)) best = i
      Some((best.toLong, hs(best)))
    }.toSet
  }

  test("matches the from-definition reference on randomized corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "b", "c", "dog", "cat", "run", "x1", "zz")
    val docs = (0L until 30L).map { i =>
      val len = 3 + rnd.nextInt(40)
      i -> Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
    val df = docs.toDF("doc_id", "text")
    val got = Dedup.winnowFingerprints(df, "doc_id", "text", n = 3, w = 4)
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getLong(1), r.getLong(2))).toSet).toMap
    docs.foreach { case (id, text) =>
      val exp = refWinnow(text, 3, 4)
      assert(got.getOrElse(id, Set.empty) == exp, s"doc $id")
    }
  }

  test("winnowPairs: duplicated docs pair up; unrelated docs do not") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val df = Seq(
      0L -> s"intro words here $shared trailing bits",
      1L -> s"$shared completely different tail tokens",
      2L -> "nothing in common with anything else at all here now").toDF("doc_id", "text")
    val pairs = Dedup.winnowPairs(df, "doc_id", "text", n = 3, w = 4,
        minShared = 2, maxDf = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("coverage guarantee: every w-window of grams contains a fingerprint") {
    import spark.implicits._
    val text = Seq.fill(60)("w x y z q").mkString(" ") // highly repetitive
    val df = Seq((0L, text)).toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(df, "doc_id", "text", n = 3, w = 4)
      .collect().map(_.getLong(1)).toSet
    val nGrams = text.split(" ").length - 2
    (0 to nGrams - 4).foreach { s =>
      assert((s until s + 4).exists(p => fps.contains(p.toLong)),
        s"window at $s uncovered")
    }
  }
}
