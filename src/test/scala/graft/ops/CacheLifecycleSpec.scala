package graft.ops

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

/** Cache lifecycle under repeated query execution (VERDICT r5 item 6):
  * re-running registered queries must not grow executor cache state, the
  * kmeans model memo must stay bounded, and Spread.release must drop the
  * session's tracked shared() entries deterministically. */
class CacheLifecycleSpec extends AnyFunSuite with SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  private def cachedRdds: Int = spark.sparkContext.getPersistentRDDs.size

  test("repeated registered-query runs do not grow cache entries or the memo") {
    val names = Seq("dedup_minhash_lsh", "kmeans_train", "similarity_ivf_trained")
    def runAll(): Unit = names.foreach { n =>
      graft.SparkEntry.queries(n)(spark, sfDir).count()
    }
    runAll() // first run populates shared plans + trains the model
    val rddsAfterFirst = cachedRdds
    val memoAfterFirst = Similarity.kmeansMemoSize
    val trackedAfterFirst = Spread.trackedCount(spark)
    runAll(); runAll()
    assert(cachedRdds == rddsAfterFirst,
      s"cache entries grew across identical re-runs: $rddsAfterFirst -> $cachedRdds")
    assert(Similarity.kmeansMemoSize == memoAfterFirst,
      "kmeans memo grew across identical re-runs")
    assert(Spread.trackedCount(spark) == trackedAfterFirst,
      "shared() registry grew across identical re-runs")
  }

  /** The r6 leak: Bench/Verify ran 174 queries × 2 passes with no release, so
    * every shared() persist stayed pinned for the session. Both drivers now
    * release after each query — this asserts that shape actually keeps the
    * session flat across DIFFERENT queries (not just re-runs of one). */
  test("bulk-driver shape: release after every query keeps the session flat") {
    val names = Seq("dedup_minhash_lsh", "semdedup", "dsir_select", "decontam_ngram")
    def pass(): Unit = names.foreach { n =>
      graft.SparkEntry.queries(n)(spark, sfDir).count()
      Spread.release(spark)
      assert(Spread.trackedCount(spark) == 0, s"tracked entries survived release after $n")
    }
    pass() // warm pass: bounded kmeans-memo trains land here, outside the measure
    val base = cachedRdds
    pass()
    assert(cachedRdds <= base,
      s"pinned cache entries leaked past release: $base -> $cachedRdds")
  }

  test("Spread.release unpersists this session's tracked shared entries") {
    graft.SparkEntry.queries("dedup_minhash_lsh")(spark, sfDir).count()
    assert(Spread.trackedCount(spark) > 0, "expected tracked shared() entries")
    Spread.release(spark)
    assert(Spread.trackedCount(spark) == 0)
    // the kmeans memo survives release (bounded separately by its LRU cap)
    assert(Similarity.kmeansMemoSize <= 16)
  }
}
