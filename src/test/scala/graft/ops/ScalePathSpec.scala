package graft.ops

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

/** At sf0.01 AQE freely broadcasts locally-tiny sides, which hides the
  * join strategy a 1000-executor cluster would actually use. This spec
  * re-runs the join-heavy registered queries with
  * `spark.sql.autoBroadcastJoinThreshold = -1` — forcing every
  * size-elective broadcast into a shuffle join, i.e. the 100 TB physical
  * path — and asserts bit-identical results. Only bounded model-state
  * broadcasts remain hinted in the plans (centroids, 1-row aggregates),
  * which is exactly the set that survives at scale. */
class ScalePathSpec extends AnyFunSuite with SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  private val joinHeavy = Seq(
    "join_asof_nearest", "join_atmos", "semdedup", "similarity_pq",
    "similarity_pq_residual", "dedup_minhash_lsh", "dedup_incremental",
    "dsir_select", "token_percentiles", "decontam_ngram",
    "dedup_jaccard_prefix", "bitmap_overlap", "interval_join",
    "attribution_linear", "dedup_kcore",
    "mixture_resample", "q3_shipping", "q5_region", "dedup_fuzzy_blocked",
    "dedup_substring_spans", "dedup_substring_clean")

  test("forcing shuffle joins (no size-elective broadcast) preserves results") {
    for (name <- joinHeavy) {
      val fn = graft.SparkEntry.queries(name)
      val want = fn(spark, sfDir).collect().map(_.toString).sorted
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        // drop every persisted sub-plan (Spread.shared) so the no-broadcast
        // run re-executes the full physical path instead of replaying cached
        // InMemoryRelations populated by the first run
        spark.catalog.clearCache()
        val got = fn(spark, sfDir).collect().map(_.toString).sorted
        assert(got.sameElements(want), s"$name diverges without broadcasts")
        assert(got.nonEmpty, s"$name empty")
      }
    }
  }

  /** The quadratic referee baselines live OUTSIDE the driver registry
    * (Registry.referees) — these proofs are the only place they run.
    * Each scale path must return the identical result set to its
    * O(corpus²) referee on the test corpora. */
  private def refereeMatchesScalePath(referee: String, scalePath: String,
                                      dirs: Seq[String]): Unit =
    for (dir <- dirs) {
      val brute = graft.queries.Registry.refereeQueries(referee)(spark, dir)
        .collect().map(_.toString).sorted
      val fast = graft.SparkEntry.queries(scalePath)(spark, dir)
        .collect().map(_.toString).sorted
      assert(fast.sameElements(brute),
        s"$dir: $scalePath ${fast.length} vs $referee ${brute.length}")
      Spread.release(spark)
    }

  test("dedup_fuzzy_blocked returns the quadratic baseline's exact result set") {
    refereeMatchesScalePath("dedup_fuzzy_prefix", "dedup_fuzzy_blocked",
      Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01"))
  }

  test("dedup_jaccard_prefix returns the all-pairs baseline's exact result set") {
    refereeMatchesScalePath("dedup_ngram_jaccard", "dedup_jaccard_prefix",
      Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01"))
  }

  test("dedup_containment_prefix returns the all-pairs baseline's exact result set") {
    refereeMatchesScalePath("dedup_containment", "dedup_containment_prefix",
      Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01"))
  }
}
