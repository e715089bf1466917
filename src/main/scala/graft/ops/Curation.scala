package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.{TextAnalysis => TA}

/**
 * Corpus-curation operators for LLM training-data pipelines: benchmark
 * decontamination, concat-and-chunk sequence packing, domain-mixture
 * rebalancing, repeated-span detection, and BM25 relevance scoring.
 *
 * Scale design notes (100 TB):
 *  - every operator is a declarative DataFrame plan — no collect(), no
 *    driver-side loops, no unbounded broadcast. The only broadcast sides
 *    are 1-row aggregates and the per-source count table (bounded by the
 *    number of corpus sources, not by corpus size).
 *  - n-gram explosion is the dominant row amplification (×~doclen); each
 *    exploded relation is immediately reduced (distinct / groupBy) so the
 *    shuffle carries (key, id) pairs, never document text.
 *  - sequence packing uses the ordered-sweep running total
 *    ([[Index.withRunningTotal]]) — no single-partition window anywhere.
 */
object Curation {

  /**
   * Benchmark decontamination: flag training documents that share at least
   * one word n-gram with the held-out/eval partition of the corpus —
   * the GPT-3/PaLM-style n-gram-overlap contamination check.
   *
   * Both sides are reduced to DISTINCT (id, ngram) pairs before the join,
   * so the equi-join on the n-gram key is linear in corpus n-grams; the
   * eval side is additionally projected to distinct n-grams only. The join
   * is a plain shuffle hash join — the eval set is usually broadcastable
   * in practice, but we let AQE make that call from runtime sizes rather
   * than hinting an unbounded side.
   *
   * Returns (idCol, n_overlap): one row per *contaminated* training doc
   * with the count of distinct overlapping n-grams.
   */
  def contaminationFlags(docs: DataFrame, idCol: String, textCol: String,
                         evalPred: Column, n: Int): DataFrame = {
    // Spread the document scan first: a small single-file input arrives as
    // one partition and would serialize the n-gram explode on one core.
    // The exploded gram relation is deliberately NOT cached (the bigram-LM
    // lesson, TextAnalysis.charBigramLmScoreImpl): its two consumers each
    // read it once, so a persist saves one whole-stage-codegen explode but
    // materializes a corpus-sized row set — the largest working set in the
    // registry, and the first thing memory pressure evicts mid-query.
    val grams = Spread.byKey(docs, col(idCol))
      .withColumn("__eval", evalPred)
      .select(col(idCol), col("__eval"),
        explode(TA.textNgrams(col(textCol), n)).as("__ngram"))
    val trainGrams = grams.filter(!col("__eval"))
      .select(col(idCol), col("__ngram")).distinct()
    val evalGrams = grams.filter(col("__eval"))
      .select("__ngram").distinct()
    trainGrams.join(evalGrams, "__ngram")
      .groupBy(idCol).agg(count(lit(1)).as("n_overlap"))
  }

  /**
   * Bloom-prefiltered decontamination — OUTPUT-identical to
   * [[contaminationFlags]], different physical shape for the 100 TB case:
   * the eval suite's distinct n-grams build a Bloom filter (16384 bits
   * packed into 63-bit words, exact integer OR), which ships as a literal
   * word array inside a pure projection that prefilters the TRAIN side's
   * n-grams BEFORE the expensive distinct + equi-join shuffles. Bloom
   * filters have no false negatives, so every truly-overlapping train
   * gram survives the prefilter and the exact join that follows removes
   * the false positives — a lossless semi-join reduction: the train-gram
   * shuffle shrinks from corpus-sized to (true overlap + fp-rate·corpus)
   * rows. The filter is bounded by construction (the eval suite is
   * KBs–MBs), so collecting its 261 words to the driver is a model
   * broadcast, not a data collect.
   */
  def contaminationFlagsBloom(docs: DataFrame, idCol: String, textCol: String,
                              evalPred: Column, n: Int): DataFrame = {
    val grams = Spread.shared(Spread.byKey(docs, col(idCol))
      .withColumn("__eval", evalPred)
      .select(col(idCol), col("__eval"),
        explode(TA.textNgrams(col(textCol), n)).as("__ngram")))
    val evalGrams = Spread.shared(
      grams.filter(col("__eval")).select("__ngram").distinct())
    val params = Dedup.hashParams(Sketches.BloomK)
    val nWords = (Sketches.BloomBits + 62) / 63
    // ONE pass over the eval grams: the k-branch union form ran k
    // concurrent subtrees over the still-cold evalGrams cache, so each
    // branch recomputed the corpus gram explode (r17: a 160-task stage
    // with 28.8 executor-seconds for a table the single-pass form probes
    // in one 32-task stage); the k positions explode from one projection
    // whose md5 key is subexpression-eliminated to a single digest
    val wordRows = evalGrams
      .select(explode(array(params.map { case (_, a, b) =>
          Sketches.bucketHash(Sketches.tokenKey(col("__ngram")), a, b,
            Sketches.BloomBits)
        }: _*)).as("__p"))
      .select((col("__p") / 63).cast("int").as("__w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(__p % 63 AS INT))").as("__v"))
      .distinct().groupBy("__w").agg(sum("__v").as("__word"))
      .collect()
    val words = Array.fill(nWords)(0L)
    wordRows.foreach(r => words(r.getInt(0)) = r.getLong(1))
    // ONE codegen'd k-probe predicate: the per-probe withColumn/AND-chain
    // form collapsed under predicate pushdown into a FilterExec that
    // re-evaluated the md5 key per conjunct reference (10 md5s per gram,
    // 38 executor-CPU-seconds at sf0.1 — r17 measurement); the fused
    // expression evaluates the key once and probes the literal word array
    // in a primitive loop. Probe arithmetic mirrors bucketHash exactly,
    // so the filter stays lossless vs the build side.
    val trainPre = grams.filter(!col("__eval"))
      .filter(graft.functions.BloomProbe.containsAll(
        Sketches.tokenKey(col("__ngram")), words, params, Dedup.P,
        Sketches.BloomBits, 63))
      .select(col(idCol), col("__ngram")).distinct()
    trainPre.join(evalGrams, "__ngram")
      .groupBy(idCol).agg(count(lit(1)).as("n_overlap"))
  }

  /**
   * Graded decontamination — the Dolma/llm-foundry refinement of the
   * boolean [[contaminationFlags]]: instead of "shares ≥1 eval n-gram",
   * score every training document by the FRACTION of its distinct word
   * n-grams that appear in the eval suite, and keep only docs below a
   * contamination threshold. A doc quoting one popular phrase survives;
   * a doc that *is* a benchmark item (high overlap fraction) is dropped.
   *
   * Same scale shape as [[contaminationFlags]] (distinct-reduced sides,
   * one equi-join on the n-gram key), but the per-doc denominator rides
   * along for free: the train side LEFT-joins the eval gram set and ONE
   * aggregation yields both the total distinct-gram count and the hit
   * count — no second pass over the corpus.
   *
   * The keep test is pure integer arithmetic (`n_overlap·16 < n_grams`,
   * i.e. fraction < 1/16) so the boundary is bit-identical cross-engine;
   * the reported fraction is round-9 display only.
   *
   * Returns (idCol, n_grams, n_overlap, contam_frac, keep) — one row per
   * training doc that has at least one n-gram.
   */
  def contaminationFraction(docs: DataFrame, idCol: String, textCol: String,
                            evalPred: Column, n: Int): DataFrame = {
    // uncached gram explode — same reasoning as [[contaminationFlags]]
    val grams = Spread.byKey(docs, col(idCol))
      .withColumn("__eval", evalPred)
      .select(col(idCol), col("__eval"),
        explode(TA.textNgrams(col(textCol), n)).as("__ngram"))
    val trainGrams = grams.filter(!col("__eval"))
      .select(col(idCol), col("__ngram")).distinct()
    val evalGrams = grams.filter(col("__eval"))
      .select("__ngram").distinct().withColumn("__hit", lit(1L))
    trainGrams.join(evalGrams, Seq("__ngram"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_overlap"))
      .select(col(idCol), col("n_grams"), col("n_overlap"),
        round(col("n_overlap").cast("double") / col("n_grams"), 9)
          .as("contam_frac"),
        (col("n_overlap") * 16 < col("n_grams")).cast("int").as("keep"))
  }

  /**
   * Stateless decontamination against a FIXED eval n-gram set — the
   * ingestion-time deployment shape of [[contaminationFlags]]: benchmark
   * suites are bounded by construction (KBs–MBs of n-grams), so the eval
   * set ships as a literal array and each document is flagged by a pure
   * projection (`array_intersect` of its distinct n-grams with the set).
   * No join, no shuffle, no state — the identical plan runs under
   * Structured Streaming in append mode on each arriving micro-batch
   * (proven in StreamDecontamSpec).
   *
   * Returns (idCol, n_overlap) for contaminated docs, matching
   * [[contaminationFlags]]'s semantics (count of distinct shared n-grams).
   */
  def contaminationFlagsStatic(docs: DataFrame, idCol: String, textCol: String,
                               evalGrams: Seq[String], n: Int): DataFrame = {
    val grams = array_distinct(TA.textNgrams(col(textCol), n))
    docs.select(col(idCol),
        size(array_intersect(grams, lit(evalGrams.toArray))).as("n_overlap"))
      .filter(col("n_overlap") > 0)
  }

  /**
   * GPT-style sequence packing: concatenate all documents' tokens in
   * idCol order and cut the stream into fixed-length training sequences
   * of `seqLen` tokens. Emits the resulting (chunk, doc) span map —
   * exactly the metadata a tokenize-and-pack job materializes:
   *
   *   (chunk_id, id, doc_off, n_toks)
   *
   * where doc_off is the offset inside the document where this chunk's
   * slice starts and n_toks is the slice length (a document spanning a
   * chunk boundary emits one row per chunk it touches).
   *
   * Global token offsets come from the ordered-sweep running total
   * ([[Index.withRunningTotal]]) — scale-safe, no global window. The
   * chunk-range explode fans each doc out to ceil(len/seqLen)+1 rows max.
   */
  /** Training-shard assignment + manifest — the WebDataset/TFRecord-style
    * export planner: documents pack greedily in doc_id order into shards
    * of ~shardTokens tokens (a document belongs to the shard containing
    * its FIRST token, like [[packSequences]]' chunk rule), and the
    * manifest row per shard carries counts and id bounds. The cumulative
    * token offset comes from the ordered-sweep running total
    * ([[Index.withRunningTotal]]) — no corpus-sized window. */
  def shardManifest(docs: DataFrame, idCol: String, textCol: String,
                    shardTokens: Long): DataFrame = {
    val withN = docs.select(col(idCol).cast("long").as("doc_id"),
      expr(s"size(filter(split(`$textCol`, ' '), x -> x != ''))").cast("long").as("n"))
    Index.withRunningTotal(withN, Seq("doc_id"), "n", "cum")
      .withColumn("shard_id", ((col("cum") - col("n")) / shardTokens).cast("long"))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"), sum("n").as("n_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
  }

  /** Overlapping token-window chunking — the RAG ingestion primitive
    * (window tokens per chunk, advancing by stride, final chunks may be
    * short). Complements [[packSequences]]' non-overlapping concat-chunk:
    * retrieval corpora chunk WITH overlap so answers spanning a boundary
    * survive. Stateless per-document projection (explode of window
    * starts) — streams, scales linearly, no shuffle. */
  def chunkOverlap(docs: DataFrame, idCol: String, textCol: String,
                   window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      "need 0 < stride <= window (overlap = window - stride)")
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        // repo-standard token accounting: empty strings from repeated/
        // leading/trailing spaces are not tokens (matches TA.tokenCount)
        expr(s"filter(split(`$textCol`, ' '), x -> x != '')").as("t"))
      // a token-less document yields no chunks (matches the oracle's empty
      // generate_series) — and guards Spark's sequence(), which rejects
      // stop = -1 with a positive step
      .filter(size(col("t")) > 0)
      .select(col("doc_id"), col("t"),
        explode(expr(s"sequence(0, size(t) - 1, $stride)")).as("start"))
      .select(col("doc_id"),
        (col("start") / stride).cast("int").as("chunk_idx"),
        col("start").cast("int").as("start_token"),
        least(lit(window), size(col("t")) - col("start")).cast("int").as("n_tokens"),
        array_join(slice(col("t"), col("start") + 1, lit(window)), " ").as("chunk"))
  }

  def packSequences(docs: DataFrame, idCol: String, textCol: String,
                    seqLen: Int): DataFrame = {
    val base = docs.select(col(idCol),
      TA.tokenCount(col(textCol)).cast("long").as("__n"))
    val cum = Index.withRunningTotal(base, Seq(idCol), "__n", "__cum")
    val L = lit(seqLen.toLong)
    cum.filter(col("__n") > 0)
      .withColumn("__prev", col("__cum") - col("__n"))
      // integer division (div), not floor(x/y): double division loses
      // exactness past 2^53 cumulative tokens and would shift chunk
      // boundaries vs the oracle's integer `//`
      .withColumn("chunk_id",
        explode(sequence(expr(s"__prev div $seqLen"),
          expr(s"(__cum - 1) div $seqLen"))))
      .select(col("chunk_id"), col(idCol),
        (greatest(col("__prev"), col("chunk_id") * L) - col("__prev"))
          .as("doc_off"),
        (least(col("__cum"), (col("chunk_id") + 1) * L)
          - greatest(col("__prev"), col("chunk_id") * L)).as("n_toks"))
  }

  /**
   * Domain-mixture rebalancing: given target mixture weights per source
   * (per-mille integers), down-sample each source deterministically so the
   * kept corpus matches the target mixture as closely as possible WITHOUT
   * upsampling any source. T = min_s(count_s * 1000 / f_s) is the largest
   * achievable total; source s keeps its doc iff
   * sampleHash(id) * count_s < f_s * T — pure integer arithmetic, so any
   * engine reproduces the exact same subset.
   *
   * The per-source count table is bounded by the number of sources (not
   * corpus size) — genuinely broadcastable; T is a 1-row aggregate.
   */
  def mixtureResample(docs: DataFrame, idCol: String, srcCol: String,
                      fracPermille: Column): DataFrame = {
    val counts = docs.groupBy(srcCol).agg(count(lit(1)).as("__cnt"))
      .withColumn("__f", fracPermille)
    val t = counts.agg(min(expr("__cnt * 1000 div __f")).as("__T"))
    docs.join(broadcast(counts), srcCol)
      .crossJoin(broadcast(t))
      .filter(TA.sampleHash(col(idCol)) * col("__cnt") < col("__f") * col("__T"))
      .select(idCol, srcCol)
  }

  /**
   * Temperature-based mixture rebalancing (XLM-R / mT5 style: sample
   * sources ∝ n_i^α instead of n_i, upsampling low-resource sources
   * relative to the head). At α = 1/2 the feasible-without-repetition
   * realization accepts each source-i document with rate
   * r_i = √(n_min / n_i): the smallest source keeps everything and a
   * source 100× larger keeps 10× less of itself — the classic temperature
   * flattening. α = 1/2 is chosen deliberately: the accept test
   * u² · n_i < 10⁶ · n_min (u the per-mille [[TA.sampleHash]]) is EXACT
   * integer arithmetic — no pow/sqrt float divergence across engines.
   *
   * Per-source counts are source-bounded (broadcastable); the filter is a
   * stateless scan. Output: the kept (id, source) rows.
   */
  def mixtureTemperature(docs: DataFrame, idCol: String,
                         srcCol: String): DataFrame = {
    val counts = docs.groupBy(srcCol).agg(count(lit(1)).as("__cnt"))
    val nmin = counts.agg(min("__cnt").as("__nmin"))
    val u = TA.sampleHash(col(idCol))
    docs.join(broadcast(counts), srcCol)
      .crossJoin(broadcast(nmin))
      .filter(u * u * col("__cnt") < lit(1000000L) * col("__nmin"))
      .select(idCol, srcCol)
  }

  /**
   * Repeated-span detection — the fixed-n shingle approximation of
   * suffix-array training-data dedup ("Deduplicating Training Data Makes
   * Language Models Better"): every position whose word n-gram occurs more
   * than once corpus-wide is a candidate duplicated span.
   *
   * Plan: posexplode n-grams → count per n-gram (map-side combinable) →
   * filter cnt > 1 → shuffle equi-join back on the n-gram key to recover
   * positions. No broadcast of an unbounded side.
   *
   * Returns (id, pos, ngram, cnt) for repeated positions.
   */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                    n: Int): DataFrame = {
    // the exploded gram relation feeds BOTH the duplicate-count aggregate
    // and the final join — share it so the n-gram explode runs once
    val grams = Spread.shared(Spread.byKey(docs, col(idCol)).select(col(idCol),
        posexplode(TA.textNgrams(col(textCol), n))
          .as(Seq("pos", "ngram"))))
    val dup = grams.groupBy("ngram").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
    grams.join(dup, "ngram").select(col(idCol), col("pos"), col("ngram"), col("cnt"))
  }

  /**
   * BM25 relevance scoring of every document against a fixed query-term
   * set (k1 = 1.2, b = 0.75) — the classic retrieval/quality-filter
   * primitive. Corpus statistics (N, avgdl, per-term df) reduce to ONE
   * 1-row aggregate (map-side combinable, broadcast as a literal-sized
   * side); per-doc scoring is then a pure projection — embarrassingly
   * parallel, no shuffle of document rows.
   *
   * Cross-engine exactness: each term's contribution is rounded to 9
   * decimals and summed left-to-right as exact DECIMAL (same trick as
   * [[TextAnalysis.charBigramLmScore]]), so engines that differ in the
   * last ulp of ln() still hash-agree.
   *
   * Returns (id, dl, bm25) for docs matching at least one term.
   */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val withToks = docs.select(col(idCol), TA.tokens(col(textCol)).as("__toks"))
      .withColumn("__dl", size(col("__toks")).cast("long"))
    val statAggs = count(lit(1)).as("__N") +: sum(col("__dl")).as("__sdl") +:
      terms.zipWithIndex.map { case (t, i) =>
        sum(when(array_contains(col("__toks"), t), 1L).otherwise(0L)).as(s"__df$i")
      }
    val stats = withToks.agg(statAggs.head, statAggs.tail: _*)
    val scored = withToks.crossJoin(broadcast(stats))
      .withColumn("__avgdl", col("__sdl").cast("double") / col("__N"))
    val contribs = terms.zipWithIndex.map { case (t, i) =>
      val tf = size(filter(col("__toks"), x => x === t)).cast("double")
      val df = col(s"__df$i").cast("double")
      val idf = log((col("__N") - df + 0.5) / (df + 0.5) + 1.0)
      round(idf * tf * (k1 + 1.0) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / col("__avgdl"))), 9)
        .cast("decimal(28,9)")
    }
    scored
      .withColumn("bm25", contribs.reduceLeft(_ + _).cast("double"))
      .filter(col("bm25") > 0)
      .select(col(idCol), col("__dl").as("dl"), col("bm25"))
  }

  /**
   * BM25 top-k RETRIEVAL — the serving shape next to [[bm25]]'s fixed
   * query scoring: a sampled query set (each query = a doc's first
   * `qTerms` sorted distinct tokens) joins the postings relation on the
   * term key, per-term contributions are round-9 DECIMAL-summed per
   * (query, candidate), and each query keeps its top `k` by
   * (score desc, doc id). This is the sparse-retrieval engine loop:
   * candidates come only from posting intersections (no corpus scan per
   * query), scoring work is Σ_q Σ_term |postings(term)|.
   *
   * Scale shape: postings/stats are shared one-pass aggregations; the
   * serving join shuffles on the term key; the top-k window partitions
   * on the query id. The query side is a FIXED-size sample by contract
   * (id-cap predicate), like every eval query.
   */
  def bm25Retrieve(docs: DataFrame, idCol: String, textCol: String,
                   queryPred: Column, qTerms: Int, k: Int,
                   k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withToks = Spread.shared(Spread.byKey(docs, col(idCol))
      .select(col(idCol).cast("long").as("did"),
        TA.tokens(col(textCol)).as("__toks"))
      .withColumn("__dl", size(col("__toks")).cast("long")))
    val postings = Spread.shared(withToks
      .select(col("did"), col("__dl"), explode(col("__toks")).as("term"))
      .groupBy("term", "did", "__dl").agg(count(lit(1)).as("tf")))
    val stats = withToks.agg(count(lit(1)).as("__N"), sum("__dl").as("__sdl"))
    val dfT = postings.groupBy("term").agg(count(lit(1)).as("df"))
    val queries = docs.filter(queryPred)
      .select(col(idCol).cast("long").as("qid"),
        explode(expr(s"slice(array_sort(array_distinct(" +
          s"filter(split($textCol, ' '), x -> x != ''))), 1, $qTerms)"))
          .as("term"))
    val contrib = {
      val idf = log((col("__N") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
      val avgdl = col("__sdl").cast("double") / col("__N")
      round(idf * col("tf") * (k1 + 1.0) /
        (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / avgdl)), 9)
        .cast("decimal(28,9)")
    }
    val scored = queries.join(postings, "term")
      .filter(col("did") =!= col("qid"))
      .join(dfT, "term")
      .crossJoin(broadcast(stats))
      .withColumn("__c", contrib)
      .groupBy("qid", "did").agg(sum("__c").cast("double").as("score"))
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("did"))
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
  }

  /**
   * Inverted-index construction: per term, document frequency, collection
   * frequency, and a doc-ordered posting list — the retrieval-side
   * artifact next to [[bm25]] (which scores against it implicitly). The
   * posting list is truncated to the `maxPostings` lowest doc ids (the
   * standard impact-ordered/first-segment truncation) and serialized as
   * "doc:tf,doc:tf,…" so the output row stays bounded regardless of how
   * hot the term is; df/cf always cover the FULL corpus.
   *
   * Scale shape: one shuffle on (term, doc) for tf, one on term for the
   * stats; the truncation runs as two bounded windows — per (term, salt)
   * then per term — so a stop-word's posting sort never exceeds
   * salt-partition survivors (the distributed TakeOrdered layout, same as
   * the KMV bottom-k).
   *
   * Returns (term, df, cf, postings).
   */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String,
                    maxPostings: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val td = docs
      .select(col(idCol).as("__doc"), explode(TA.tokens(col(textCol))).as("term"))
      .groupBy("term", "__doc").agg(count(lit(1)).as("__tf"))
    val shared = Spread.shared(td)
    val stats = shared.groupBy("term")
      .agg(count(lit(1)).as("df"), sum("__tf").as("cf"))
    val pre = Window.partitionBy(col("term"), pmod(col("__doc"), lit(32L)))
      .orderBy(col("__doc"))
    val fin = Window.partitionBy(col("term")).orderBy(col("__doc"))
    val capped = shared
      .withColumn("__rn", row_number().over(pre)).filter(col("__rn") <= maxPostings)
      .withColumn("__rn", row_number().over(fin)).filter(col("__rn") <= maxPostings)
    val postings = capped.groupBy("term").agg(
      concat_ws(",", transform(
        sort_array(collect_list(struct(col("__doc"), col("__tf")))),
        s => concat(s.getField("__doc"), lit(":"), s.getField("__tf"))))
        .as("postings"))
    stats.join(postings, "term").select("term", "df", "cf", "postings")
  }

  /**
   * DSIR-style importance scoring (Xie et al., NeurIPS 2023 "Data Selection
   * via Importance Resampling"): rank raw documents by how much more likely
   * their hashed-n-gram bag is under the TARGET distribution than under the
   * RAW distribution,
   *
   *   w(doc) = Σ_b n_b(doc) · ( ln p̂_t[b] − ln p̂_r[b] ),
   *
   * with word-bigram features hashed into `buckets` buckets (md5-prefix
   * integer hash — engine-portable) and add-one-smoothed bucket models
   * fitted on the target slice (`targetPred`) and the whole corpus. The
   * top-`topK` weighted docs are the resampled selection (deterministic
   * rank form of the paper's Gumbel sampling).
   *
   * Scale contract: the two bucket models are bounded by `buckets` (not by
   * corpus size) — a legitimately broadcastable side; the n-gram explode is
   * pre-spread and immediately reduced to (doc, bucket, n) counts; the
   * final selection is orderBy+limit = TakeOrderedAndProject (per-partition
   * top-k, no global sort). Per-bucket contributions are rounded to 9
   * decimals and DECIMAL-summed, so engines differing in the last ulp of
   * ln() still hash-agree and rank identically.
   */
  def dsirSelect(docs: DataFrame, idCol: String, textCol: String,
                 targetPred: Column, buckets: Int, topK: Int): DataFrame = {
    val grams = Spread.byKey(docs, col(idCol))
      .withColumn("__t", targetPred)
      .select(col(idCol), col("__t"),
        explode(TA.textNgrams(col(textCol), 2)).as("__g"))
      .withColumn("__b",
        graft.functions.Md5Prefix.md5PrefixLong(col("__g"), 8) % buckets)
    val perDoc = Spread.shared(grams
      .groupBy(col(idCol), col("__t"), col("__b"))
      .agg(count(lit(1)).as("__n")))
    // bucket models: bounded by `buckets` rows — broadcast is safe by
    // construction (model size, not data size)
    val tgt = perDoc.filter(col("__t"))
      .groupBy("__b").agg(sum("__n").as("__ct"))
    val raw = perDoc.groupBy("__b").agg(sum("__n").as("__cr"))
    val model = raw.join(tgt, Seq("__b"), "left")
      .na.fill(0L, Seq("__ct"))
    val totals = model.agg(sum("__ct").as("__Tt"), sum("__cr").as("__Tr"))
    val contrib = round(
      col("__n") * (log((col("__ct") + 1.0) / (col("__Tt") + lit(buckets.toDouble)))
        - log((col("__cr") + 1.0) / (col("__Tr") + lit(buckets.toDouble)))), 9)
      .cast("decimal(28,9)")
    perDoc
      .join(broadcast(model), "__b")
      .crossJoin(broadcast(totals))
      .withColumn("__c", contrib)
      .groupBy(col(idCol))
      .agg(sum("__n").as("n_grams"),
        sum(col("__c")).cast("double").as("dsir_logratio"))
      .orderBy(col("dsir_logratio").desc, col(idCol))
      .limit(topK)
  }

  /**
   * Maximal duplicated-span merging — the islands step over
   * [[repeatedSpans]]: duplicated n-gram positions within a doc coalesce
   * into the maximal token span you would actually strip (suffix-dedup
   * emits spans, not points). Positions p1 < p2 belong to one island iff
   * their token spans [p, p+n−1] touch, i.e. p2 − p1 ≤ n − 1 — NOT only
   * strictly-adjacent positions (a gap of 2..n−1 still overlaps in token
   * space; splitting there would double-count tokens downstream). Island
   * ids are a running sum of gap>n−1 breaks; both windows are partitioned
   * per doc — no global window.
   *
   * Returns (id, span_start, span_end, n_grams): token-inclusive bounds,
   * span_end = last duplicated position + n − 1. Islands are ≥ 1 token
   * apart by construction, so spans are disjoint.
   */
  def mergedDupSpans(docs: DataFrame, idCol: String, textCol: String,
                     n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pos = repeatedSpans(docs, idCol, textCol, n)
      .select(col(idCol), col("pos").cast("long").as("pos"))
    val ord = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    pos
      .withColumn("__brk",
        when(col("pos") - lag(col("pos"), 1).over(ord) > (n - 1), 1L)
          .otherwise(0L))
      .withColumn("__grp", sum(col("__brk")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("__grp"))
      .agg(min("pos").as("span_start"),
        (max("pos") + (n - 1)).as("span_end"),
        count(lit(1)).as("n_grams"))
      .drop("__grp")
  }

  /**
   * Multinomial Naive Bayes quality classifier — the fastText/CCNet-style
   * learned quality filter, with a real train/apply split: fit token-bucket
   * class counts + doc priors on the training partition, score every
   * held-out doc with the summed log-likelihood ratio, predict at 0.
   *
   * Scale shape: the model is (2 class totals × `buckets` bucket counts +
   * 1-row priors) — bounded by construction, broadcast like the DSIR bag
   * models; scoring is one shuffle of (doc, bucket, n) triples. The model
   * table spans ALL buckets (unseen buckets still carry the smoothed
   * ln(1/(T+B)) contribution), via a range-join on spark.range(buckets).
   *
   * Cross-engine exactness: per-bucket contributions and the prior are
   * round-9 DECIMAL(28,9) terms summed exactly (the [[bm25]] discipline),
   * so `pred = score > 0` cannot flip on ln() ulps.
   *
   * Returns (id, label, n_tokens, score, pred) for held-out docs with at
   * least one token.
   */
  def nbClassify(docs: DataFrame, idCol: String, textCol: String,
                 labelPred: Column, trainPred: Column, buckets: Int): DataFrame = {
    val base = Spread.byKey(docs, col(idCol))
      .select(col(idCol), labelPred.cast("int").as("__y"), trainPred.as("__tr"),
        col(textCol))
    val grams = base
      .select(col(idCol), col("__y"), col("__tr"),
        explode(TA.tokens(col(textCol))).as("__g"))
      .withColumn("__b",
        graft.functions.Md5Prefix.md5PrefixLong(col("__g"), 8) % buckets)
    val perDoc = Spread.shared(grams
      .groupBy(col(idCol), col("__y"), col("__tr"), col("__b"))
      .agg(count(lit(1)).as("__n")))
    val trainCnt = perDoc.filter(col("__tr"))
      .groupBy("__b")
      .agg(sum(when(col("__y") === 1, col("__n")).otherwise(0L)).as("__n1"),
        sum(when(col("__y") === 0, col("__n")).otherwise(0L)).as("__n0"))
    val model = docs.sparkSession.range(buckets.toLong).select(col("id").as("__b"))
      .join(trainCnt, Seq("__b"), "left")
      .na.fill(0L, Seq("__n1", "__n0"))
    val totals = model.agg(sum("__n1").as("__T1"), sum("__n0").as("__T0"))
    val priors = base.filter(col("__tr"))
      .agg(sum(when(col("__y") === 1, 1L).otherwise(0L)).as("__N1"),
        sum(when(col("__y") === 0, 1L).otherwise(0L)).as("__N0"))
    val b = lit(buckets.toDouble)
    val contrib = round(col("__n") * (log((col("__n1") + 1.0) / (col("__T1") + b))
        - log((col("__n0") + 1.0) / (col("__T0") + b))), 9)
      .cast("decimal(28,9)")
    val prior = round(log((col("__N1") + 1.0) / (col("__N0") + 1.0)), 9)
      .cast("decimal(28,9)")
    perDoc.filter(!col("__tr"))
      .join(broadcast(model), "__b")
      .crossJoin(broadcast(totals))
      .withColumn("__c", contrib)
      .groupBy(col(idCol), col("__y"))
      // sum widens to DECIMAL(38,9); re-cast before adding the prior, or
      // Spark's decimal-add overflow rule silently drops the 9th decimal
      .agg(sum("__n").as("n_tokens"),
        sum(col("__c")).cast("decimal(28,9)").as("__s"))
      .crossJoin(broadcast(priors))
      .withColumn("__score", prior + col("__s"))
      .select(col(idCol), col("__y").as("label"), col("n_tokens"),
        col("__score").cast("double").as("score"),
        (col("__score") > 0).cast("int").as("pred"))
  }

  /**
   * Calibration (reliability) table for the NB quality classifier: the
   * held-out scores bucket into unit-width log-odds bins (clamped to
   * ±8), and each bin reports its observed positive rate next to its
   * mean score — the diagram that tells you whether score 3 really means
   * "95% likely positive" before you threshold it. Bin edges are integer
   * floors of 9-decimal-exact scores, so both engines bin identically.
   */
  def nbCalibration(docs: DataFrame, idCol: String, textCol: String,
                    labelPred: Column, trainPred: Column,
                    buckets: Int): DataFrame = {
    val scored = nbClassify(docs, idCol, textCol, labelPred, trainPred, buckets)
    // mean_score runs in exact e9-integer space with explicit HALF_UP
    // division: a 9-dp decimal sum divided by a small even n lands
    // EXACTLY on the .5 boundary whenever the sum's last digit is odd,
    // and double round(x, 9) then diverges cross-engine (Spark rounds
    // the shortest decimal repr, DuckDB the binary value)
    scored
      .withColumn("bin",
        least(greatest(floor(col("score")).cast("int"), lit(-8)), lit(8)))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("label")).cast("long").as("n_pos"),
        round(sum(col("label")).cast("double") / count(lit(1)), 9).as("pos_rate"),
        sum(expr("CAST(CAST(score AS DECIMAL(28,9)) * 1000000000 AS BIGINT)"))
          .as("__se9"))
      .withColumn("mean_score",
        expr("CAST(CAST(sign(__se9) AS BIGINT) * " +
          "((abs(__se9) * 2 + n_docs) DIV (2 * n_docs)) AS DOUBLE) / 1e9"))
      .drop("__se9")
  }

  /**
   * Isotonic calibration of a binned reliability table (the PAV fit,
   * computed by the minimax closed form: iso_i = max_{j≤i} min_{k≥i}
   * of the weighted positive rate over bins j..k — Ayer et al. 1955;
   * equals pool-adjacent-violators). Produces the monotone-nondecreasing
   * probability curve every score-thresholding decision should read
   * instead of the raw (noisy, possibly non-monotone) per-bin rates.
   *
   * Input: (bin, n_docs, n_pos) — a CALIBRATION TABLE, bounded by the
   * bin clamp (17 rows here), never raw data; the three bounded
   * self-joins below are over that model-sized relation (audit-exempt
   * the way the KMV group enumeration is). Interval rates are single
   * double divisions of exact integer sums; min/max over identical IEEE
   * doubles, round-9 at the edge.
   *
   * Output: (bin, n_docs, n_pos, pos_rate, iso_rate), iso_rate monotone.
   */
  def isotonicFit(bins: DataFrame): DataFrame = {
    val spark = bins.sparkSession
    // model collect: the calibration table is bounded by the bin clamp
    // (17 rows for the [-8,8] NB bins) — the r16 shape ran the minimax
    // as three theta-joins + two aggregations over a 17-row cached
    // relation, paying ~6 shuffle stages of pure scheduling overhead per
    // query (r17 measurement); the driver loop below is O(bins³) over a
    // model-sized array, the same bounded-model pattern as the MMR
    // greedy. Arithmetic is IEEE-identical: interval rates are single
    // double divisions of exact long sums, min/max are order-free, and
    // the round-9 still happens in Spark expressions on the local
    // relation so engine rounding is unchanged.
    val rows = bins.select(col("bin").cast("int"),
        col("n_docs").cast("long"), col("n_pos").cast("long"))
      .collect().map { r =>
        // degenerate inputs fail LOUDLY (r17 advice): the old Spark-side
        // form returned null iso_rate for zero-weight intervals via null
        // division; the driver fit would silently emit NaN/Infinity (and
        // NPE on a null bin). Unreachable from nb_isotonic — bins come
        // from groupBy counts ≥ 1 — but isotonicFit is a public op.
        require(!r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2) &&
          r.getLong(1) > 0,
          "isotonicFit: bin and n_pos must be non-null and n_docs > 0 per interval")
        (r.getInt(0), r.getLong(1), r.getLong(2))
      }
      .sortBy(_._1)
    require(rows.length <= 512,
      s"isotonicFit: ${rows.length} bins exceeds the 512 bounded-model " +
        "cap — the PAV minimax is O(bins³) driver work; a calibration " +
        "table is bins-clamped by construction, so an oversized input " +
        "is a caller bug, not a scale path")
    val n = rows.length
    val cumN = rows.scanLeft(0L)(_ + _._2).toArray // cumN(i) = Σ n_docs[0..i)
    val cumP = rows.scanLeft(0L)(_ + _._3).toArray
    def avg(j: Int, k: Int): Double = // weighted rate over bins j..k
      (cumP(k + 1) - cumP(j)).toDouble / (cumN(k + 1) - cumN(j)).toDouble
    val iso = Array.tabulate(n) { i =>
      var best = Double.NegativeInfinity
      var j = 0
      while (j <= i) {
        var mn = Double.PositiveInfinity
        var k = i
        while (k < n) { val a = avg(j, k); if (a < mn) mn = a; k += 1 }
        if (mn > best) best = mn
        j += 1
      }
      best
    }
    import spark.implicits._
    rows.zip(iso).toSeq
      .map { case ((bin, nd, np), r) => (bin, nd, np, r) }
      .toDF("bin", "n_docs", "n_pos", "__iso")
      .select(col("bin"), col("n_docs"), col("n_pos"),
        round(col("n_pos").cast("double") / col("n_docs").cast("double"), 9)
          .as("pos_rate"),
        round(col("__iso"), 9).as("iso_rate"))
  }

  /**
   * Per-document duplicated-token fraction + keep/drop decision — the
   * FILTER step after span detection: docs whose merged duplicate spans
   * ([[mergedDupSpans]]) cover more than `maxFrac` of their tokens get
   * dropped (the "mostly boilerplate" cut every web-corpus pipeline makes).
   * Merged spans are disjoint by construction, so covered-token mass is a
   * plain sum; the spans side is per-doc-bounded, joined back on the doc
   * key (shuffle equi-join, no broadcast of an unbounded side).
   *
   * Returns (id, n_tokens, dup_tokens, dup_frac, keep) for non-empty docs.
   */
  def dupSpanFraction(docs: DataFrame, idCol: String, textCol: String,
                      n: Int, maxFrac: Double): DataFrame = {
    val spans = mergedDupSpans(docs, idCol, textCol, n)
      .groupBy(col(idCol))
      .agg(sum(col("span_end") - col("span_start") + 1).as("dup_tokens"))
    val tot = Spread.byKey(docs, col(idCol))
      .select(col(idCol), size(TA.tokens(col(textCol))).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
    val frac = col("dup_tokens") / col("n_tokens").cast("double")
    tot.join(spans, Seq(idCol), "left")
      .na.fill(0L, Seq("dup_tokens"))
      .withColumn("dup_frac", round(frac, 9))
      .withColumn("keep", (frac <= maxFrac).cast("int"))
  }

  /**
   * Per-source corpus data card — the summary-statistics artifact every
   * training-data release ships: doc/token/char mass, token-length
   * moments, and language mix per source. ONE map-side-combinable
   * aggregation over the corpus (output bounded by the source count).
   */
  def corpusDataCard(docs: DataFrame, idCol: String, textCol: String,
                     srcCol: String, langCol: String): DataFrame =
    docs
      .select(col(srcCol), col(langCol),
        size(TA.tokens(col(textCol))).cast("long").as("__nt"),
        length(col(textCol)).cast("long").as("__nc"))
      .groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_docs"),
        sum("__nt").as("n_tokens"),
        sum("__nc").as("n_chars"),
        round(sum("__nt") / count(lit(1)).cast("double"), 9).as("avg_tokens"),
        min("__nt").as("min_tokens"),
        max("__nt").as("max_tokens"),
        sum(when(col(langCol) === "en", 1L).otherwise(0L)).as("n_en"),
        countDistinct(col(langCol)).as("n_langs"))

  /** Held-out confusion matrix over [[nbClassify]] — the evaluation step
    * of the train/apply split. Output is at most 4 rows. */
  def nbConfusion(docs: DataFrame, idCol: String, textCol: String,
                  labelPred: Column, trainPred: Column, buckets: Int): DataFrame =
    nbClassify(docs, idCol, textCol, labelPred, trainPred, buckets)
      .groupBy(col("label"), col("pred"))
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))

  /**
   * Binned ROC AUC for the held-out NB scores — the threshold-free
   * companion to the confusion matrix/calibration table: scores bucket
   * onto a fixed eighth-log-odds grid (clamped ±8 → 129 bins, the
   * score-resolution sibling of the calibration bins), and the ROC
   * trapezoid sum runs in PURE INTEGERS over the bin fold:
   * 2·AUC·n₁·n₀ = Σ_bins (2·TP_prev + pos_b)·neg_b descending by score —
   * equal-score pairs land in one bin, which IS the trapezoid midrank
   * correction. One aggregation + a 129-element array fold; no
   * data-sized ordering anywhere.
   *
   * Output: one row (n_pos, n_neg, auc_num2, auc).
   */
  def nbAuc(docs: DataFrame, idCol: String, textCol: String,
            labelPred: Column, trainPred: Column, buckets: Int): DataFrame = {
    val scored = nbClassify(docs, idCol, textCol, labelPred, trainPred, buckets)
    scored
      .withColumn("__bin",
        least(greatest(floor(col("score") * 8).cast("long"), lit(-64L)),
          lit(64L)))
      .groupBy("__bin")
      .agg(sum(col("label")).cast("long").as("__p"),
        (count(lit(1)) - sum(col("label"))).cast("long").as("__n"))
      .groupBy()
      .agg(sort_array(collect_list(struct((-col("__bin")).as("__d"),
        col("__p"), col("__n")))).as("__bs"))
      .withColumn("__f", expr(
        """aggregate(__bs,
          |  struct(CAST(0 AS BIGINT) AS tp, CAST(0 AS BIGINT) AS fp,
          |         CAST(0 AS BIGINT) AS num),
          |  (a, x) -> struct(a.tp + x.__p, a.fp + x.__n,
          |    a.num + (2 * a.tp + x.__p) * x.__n))""".stripMargin))
      .select(col("__f.tp").as("n_pos"), col("__f.fp").as("n_neg"),
        col("__f.num").as("auc_num2"),
        round(col("__f.num").cast("double") /
          (lit(2.0) * col("__f.tp").cast("double") *
            col("__f.fp").cast("double")), 9).as("auc"))
  }

  /**
   * k-fold cross-validation of the NB classifier in ONE corpus pass —
   * the leave-one-fold-out trick: per-(fold, bucket) counts are computed
   * once, and fold f's training model is the GLOBAL counts minus fold
   * f's own (model_f = Σ_other-folds, by subtraction — no k re-trainings,
   * no k data passes). Every doc is scored under the model that never
   * saw its fold; per-fold accuracy exposes the variance a single split
   * hides.
   *
   * Scale: the k model relations are folds×buckets rows (bounded model
   * state, broadcast); the corpus is touched once for gram counts and
   * once for scoring. Same round-9 DECIMAL contribution discipline as
   * [[nbClassify]], so the result is oracle-exact.
   *
   * Output: (fold, n_docs, n_correct, accuracy).
   */
  def nbCrossval(docs: DataFrame, idCol: String, textCol: String,
                 labelPred: Column, folds: Int, buckets: Int): DataFrame = {
    val base = Spread.byKey(docs, col(idCol))
      .select(col(idCol), labelPred.cast("int").as("__y"),
        pmod(col(idCol), lit(folds)).cast("int").as("__f"), col(textCol))
    val grams = base
      .select(col(idCol), col("__y"), col("__f"),
        explode(TA.tokens(col(textCol))).as("__g"))
      .withColumn("__b",
        graft.functions.Md5Prefix.md5PrefixLong(col("__g"), 8) % buckets)
    val perDoc = Spread.shared(grams
      .groupBy(col(idCol), col("__y"), col("__f"), col("__b"))
      .agg(count(lit(1)).as("__n")))
    val foldCnt = perDoc.groupBy("__f", "__b")
      .agg(sum(when(col("__y") === 1, col("__n")).otherwise(0L)).as("__f1"),
        sum(when(col("__y") === 0, col("__n")).otherwise(0L)).as("__f0"))
    val globalCnt = foldCnt.groupBy("__b")
      .agg(sum("__f1").as("__g1"), sum("__f0").as("__g0"))
    val spark = docs.sparkSession
    // one local relation, not a local×local cross (which plans as a
    // pointless broadcast nested loop — the jlProject lesson)
    import spark.implicits._
    val grid = (for (f <- 0 until folds; b <- 0 until buckets)
      yield (f, b.toLong)).toDF("__f", "__b")
    val model = grid
      .join(foldCnt, Seq("__f", "__b"), "left").na.fill(0L, Seq("__f1", "__f0"))
      .join(globalCnt, Seq("__b"), "left").na.fill(0L, Seq("__g1", "__g0"))
      .select(col("__f"), col("__b"),
        (col("__g1") - col("__f1")).as("__n1"),
        (col("__g0") - col("__f0")).as("__n0"))
    val totals = model.groupBy("__f")
      .agg(sum("__n1").as("__T1"), sum("__n0").as("__T0"))
    val docCnt = base.groupBy("__f")
      .agg(sum(when(col("__y") === 1, 1L).otherwise(0L)).as("__d1"),
        sum(when(col("__y") === 0, 1L).otherwise(0L)).as("__d0"))
    val docTot = docCnt.agg(sum("__d1").as("__t1d"), sum("__d0").as("__t0d"))
    val priors = docCnt.crossJoin(broadcast(docTot))
      .select(col("__f"),
        round(log((col("__t1d") - col("__d1") + 1.0) /
          (col("__t0d") - col("__d0") + 1.0)), 9).cast("decimal(28,9)")
          .as("__prior"))
    val b = lit(buckets.toDouble)
    val contrib = round(col("__n") * (log((col("__n1") + 1.0) / (col("__T1") + b))
        - log((col("__n0") + 1.0) / (col("__T0") + b))), 9)
      .cast("decimal(28,9)")
    perDoc
      .join(broadcast(model), Seq("__f", "__b"))
      .join(broadcast(totals), "__f")
      .withColumn("__c", contrib)
      .groupBy(col(idCol), col("__y"), col("__f"))
      .agg(sum(col("__c")).cast("decimal(28,9)").as("__s"))
      .join(broadcast(priors), "__f")
      .withColumn("__pred", ((col("__prior") + col("__s")) > 0).cast("int"))
      .groupBy(col("__f").as("fold"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("__pred") === col("__y")).cast("long")).as("n_correct"))
      .withColumn("accuracy", round(col("n_correct").cast("double") /
        col("n_docs").cast("double"), 9))
  }
}
