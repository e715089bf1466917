package graft.ops

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

/** The PassJoin fuzzy-prefix join is EXACT by contract: identical result
  * set to the quadratic scoped cross for ANY input. The corners that the
  * old token-combo blocking provably missed — pairs sharing 0 or 1
  * distinct prefix tokens, degenerate short/empty prefixes — are exactly
  * what these fixtures force, alongside randomized corpora diffed against
  * a driver-side brute force. */
class FuzzyPassJoinSpec extends AnyFunSuite with SharedSpark {
  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
      if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  private def brute(docs: Seq[(Long, String, String)],
                    maxDist: Int): Set[(Long, Long, Int)] = {
    def pfx(t: String) = t.split(' ').filter(_.nonEmpty).take(5).mkString(" ")
    (for {
      (ia, sa, ta) <- docs; (ib, sb, tb) <- docs
      if sa == sb && ia < ib
      d = lev(pfx(ta), pfx(tb)) if d <= maxDist
    } yield (ia, ib, d)).toSet
  }

  private def run(docs: Seq[(Long, String, String)],
                  maxDist: Int): Set[(Long, Long, Int)] = {
    import spark.implicits._
    val df = docs.toDF("doc_id", "source", "text")
    val got = Dedup.fuzzyPrefixPairs(df, "doc_id", "text", "source", 5, maxDist)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    Spread.release(spark)
    got
  }

  test("0- and 1-shared-token pairs within distance are found (old miss class)") {
    val docs = Seq(
      // share exactly 1 token ("alpha"); every other token 1 edit apart
      (1L, "s", "alpha beta gamma delta epsilon tail tail"),
      (2L, "s", "alpha betx gamme deltx epsilom tail2"),
      // share 0 tokens; each of 5 short tokens 1 edit apart (dist 5)
      (3L, "s", "aa bb cc dd ee xxxx"),
      (4L, "s", "ab bc cd de ef yyyy"),
      // degenerate: single repeated token vs multi-token
      (5L, "s", "x x x x x pad"),
      (6L, "s", "x y x x x pad"),
      // short + empty prefixes
      (7L, "s", "ab"),
      (8L, "s", ""),
      // different scope: must never pair despite identical text
      (9L, "t", "aa bb cc dd ee xxxx"))
    val want = brute(docs, 8)
    assert(want.exists(p => p._1 == 1L && p._2 == 2L), "1-shared fixture inert")
    assert(want.exists(p => p._1 == 3L && p._2 == 4L), "0-shared fixture inert")
    assert(want.exists(p => p._1 == 7L && p._2 == 8L), "short fixture inert")
    assert(!want.exists(p => p._2 == 9L))
    assert(run(docs, 8) == want)
  }

  test("adversarial near-empty corpus trips the short-class guard, not n²") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 100_001 near-empty texts in ONE scope: the degenerate l <= 2τ class
    // would join quadratically (10^10 pairs) — the broadcast guard must
    // fail the job loudly before that work runs
    val df = spark.range(100001L)
      .select(col("id").as("doc_id"), lit("s").as("source"),
        concat(lit("a"), (col("id") % 10).cast("string")).as("text"))
    val e = intercept[Exception] {
      Dedup.fuzzyPrefixPairs(df, "doc_id", "text", "source", 5, 4).count()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("degenerate-class bound")),
      s"wrong failure: ${e.getMessage}")
    Spread.release(spark)
  }

  test("equals the quadratic baseline on random corpora (mutation near-dups)") {
    val rnd = new scala.util.Random(11)
    val alphabet = "abcde "
    for (trial <- 1 to 5) {
      def randText(len: Int): String =
        (1 to len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      val base = (0 until 40).map(i =>
        (i.toLong, s"s${i % 2}", randText(10 + rnd.nextInt(30))))
      // substitutions AND indels, up to the threshold's 8 edits — pairs
      // land on every distance 0..8, stressing the window bounds at the
      // exact boundary where an off-by-one would drop pairs
      val dups = base.filter(_._1 % 4 == 0).map { case (id, src, t) =>
        var s = t
        for (_ <- 0 until rnd.nextInt(9)) {
          val p = rnd.nextInt(math.max(s.length, 1))
          s = rnd.nextInt(3) match {
            case 0 if s.nonEmpty => s.updated(p, alphabet(rnd.nextInt(alphabet.length)))
            case 1 if s.nonEmpty => s.take(p) + s.drop(p + 1) // delete
            case _ => s.take(p) + alphabet(rnd.nextInt(alphabet.length)) + s.drop(p)
          }
        }
        (id + 1000L, src, s)
      }
      val docs = base ++ dups
      val want = brute(docs, 8)
      assert(want.nonEmpty, s"trial $trial produced no pairs — weak test")
      assert(run(docs, 8) == want, s"trial $trial diverged")
    }
  }
}
