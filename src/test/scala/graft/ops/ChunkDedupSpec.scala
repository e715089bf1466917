package graft.ops

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

/** C4-style chunk dedup invariants: first occurrence survives, exact
  * copies lose everything, reassembly preserves order, and the kept-chunk
  * total equals the distinct-chunk count. */
class ChunkDedupSpec extends AnyFunSuite with SharedSpark {
  test("first occurrence kept, exact duplicate drops to empty, order preserved") {
    import spark.implicits._
    val w = 2
    val docs = Seq(
      (1L, "a b c d e f"),        // 3 chunks: "a b", "c d", "e f"
      (2L, "a b c d e f"),        // exact copy -> every chunk already seen
      (3L, "x y a b z"),          // "x y" new, "a b" dup, "z" (tail) new
      (4L, "")                    // empty doc
    ).toDF("doc_id", "text")
    val out = Dedup.chunkDedup(docs, "doc_id", "text", w).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(out(1L) == ((3, 3, "a b c d e f")))
    assert(out(2L) == ((3, 0, "")))
    assert(out(3L) == ((3, 2, "x y z")))
    assert(out(4L) == ((0, 0, "")))
  }

  test("kept chunks across the corpus equal the distinct chunk texts") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val words = Array("p", "q", "r", "s")
    val docs = (0 until 40).map(i =>
      (i.toLong, Array.fill(4 + rnd.nextInt(9))(words(rnd.nextInt(4))).mkString(" ")))
      .toDF("doc_id", "text")
    val out = Dedup.chunkDedup(docs, "doc_id", "text", 3)
    val kept = out.agg(org.apache.spark.sql.functions.sum("n_kept")).head.getLong(0)
    // from-definition distinct chunk count
    val distinctChunks = docs.collect().flatMap { r =>
      r.getString(1).split(" ").filter(_.nonEmpty).grouped(3).map(_.mkString(" "))
    }.toSet.size
    assert(kept == distinctChunks.toLong)
    // within-doc duplicate chunks also dedup (same doc, later idx drops)
    val self = Seq((9L, "m m m m m m")).toDF("doc_id", "text")
    val sr = Dedup.chunkDedup(self, "doc_id", "text", 2).head
    assert(sr.getInt(1) == 3 && sr.getInt(2) == 1 && sr.getString(3) == "m m")
  }

  test("boilerplate filter drops EVERY occurrence of pervasive chunks") {
    import spark.implicits._
    // "hdr ftr" appears in 3 of 4 docs (df 0.75); "a b" in 1 (df 0.25).
    // threshold 0.5 -> the header chunk vanishes everywhere, including its
    // first occurrence (the contrast with chunkDedup, which keeps one)
    val docs = Seq(
      (1L, "hdr ftr a b"),
      (2L, "hdr ftr c d"),
      (3L, "hdr ftr hdr ftr e f"), // within-doc repeat counts ONCE toward df
      (4L, "g h")
    ).toDF("doc_id", "text")
    val out = Dedup.boilerplateChunks(docs, "doc_id", "text", 2, 0.5).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(out(1L) == ((2, 1, "a b")))
    assert(out(2L) == ((2, 1, "c d")))
    assert(out(3L) == ((3, 1, "e f")))
    assert(out(4L) == ((1, 1, "g h")))
    // threshold just above the max df keeps everything intact
    val all = Dedup.boilerplateChunks(docs, "doc_id", "text", 2, 0.8)
      .agg(org.apache.spark.sql.functions.sum("n_kept")).head.getLong(0)
    assert(all == 2 + 2 + 3 + 1)
    // boundary is >=: df exactly at frac*n removes (3/4 docs, frac 0.75)
    val b = Dedup.boilerplateChunks(docs, "doc_id", "text", 2, 0.75).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(b(1L) == 1 && b(3L) == 1)
  }
}
