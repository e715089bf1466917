package graft.ops

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

/** LSH-vs-exact evaluation invariants: planted exact duplicates are always
  * recalled (identical shingle sets => identical signatures => same band
  * keys), and the metric row is internally consistent. */
class LshQualitySpec extends AnyFunSuite with SharedSpark {
  test("exact duplicates recalled; counts consistent") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val words = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val base = (0 until 30).map(i =>
      Array.fill(12)(words(rnd.nextInt(words.length))).mkString(" "))
    // docs 100.. are exact copies of docs 0..9 -> ten guaranteed true pairs
    val docs = (base.zipWithIndex.map { case (t, i) => (i.toLong, t) } ++
      (0 until 10).map(i => (100L + i, base(i)))).toDF("doc_id", "text")
    val row = Dedup.lshQuality(docs, "doc_id", "text",
      numHashes = 16, bands = 2, threshold = 0.7,
      evalSlice = org.apache.spark.sql.functions.lit(true)).head
    val (nTrue, nLsh, nHit) = (row.getLong(0), row.getLong(1), row.getLong(2))
    assert(nHit <= math.min(nTrue, nLsh))
    assert(nTrue >= 10) // at least the planted duplicate pairs
    // every planted exact-duplicate pair must be in the hit set: recall
    // over the full truth can dip below 1 only via NEAR-pairs, and with
    // this vocabulary the planted identicals dominate — require recall > 0
    // and that at least the 10 identical pairs were hit
    assert(nHit >= 10, s"planted duplicates missed: hit=$nHit")
    val rec = row.getDouble(row.fieldIndex("recall"))
    assert(rec > 0.0 && rec <= 1.0)
  }
}
