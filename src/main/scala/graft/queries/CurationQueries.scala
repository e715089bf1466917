package graft.queries

import graft.ops.Curation
import org.apache.spark.sql.functions._

/**
 * Corpus-curation queries (decontamination, packing, mixture, spans, BM25)
 * over the documents table, each with an exact DuckDB oracle. All hashes and
 * thresholds are pure integer arithmetic; doubles follow the round-9 +
 * exact-DECIMAL-sum discipline so both engines hash-agree bitwise.
 */
object CurationQueries {
  import Tables._

  // shared DuckDB fragment: non-empty whitespace tokens per doc
  private val toksCte =
    """t AS (
      |  SELECT doc_id, source,
      |    list_filter(string_split(text, ' '), x -> length(x) > 0) AS toks
      |  FROM documents)""".stripMargin

  // shared DuckDB fragment: word trigrams (n = 3) with 0-based position
  private val trigramCte =
    s"""$toksCte,
       |g AS (
       |  SELECT doc_id,
       |    unnest(list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
       |      i -> i - 1)) AS pos,
       |    unnest(list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
       |      i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS ngram
       |  FROM t)""".stripMargin

  val qs: Seq[Q] = Seq(

    // GPT-3-style benchmark decontamination: the eval partition is the
    // deterministic doc_id % 41 == 0 slice; a training doc is contaminated
    // when it shares any word trigram with the eval side.
    Q("decontam_ngram",
      (s, dir) => Curation.contaminationFlags(
        documents(s, dir), "doc_id", "text", col("doc_id") % 41 === 0, 3),
      Some(s"""WITH $trigramCte,
              |tr AS (
              |  SELECT DISTINCT doc_id, ngram FROM g WHERE doc_id % 41 <> 0),
              |eg AS (SELECT DISTINCT ngram FROM g WHERE doc_id % 41 = 0)
              |SELECT tr.doc_id, count(*) AS n_overlap
              |FROM tr JOIN eg USING (ngram) GROUP BY 1""".stripMargin)),

    // the same decontamination through a Bloom semi-join reduction: the
    // eval suite's n-grams build a 16384-bit Bloom filter shipped as a
    // literal word array, prefiltering train grams in a pure projection
    // BEFORE the distinct+join shuffles (no false negatives ⇒ lossless;
    // the exact join kills the false positives). Same oracle as
    // decontam_ngram — the outputs must be identical.
    Q("decontam_bloom",
      (s, dir) => Curation.contaminationFlagsBloom(
        documents(s, dir), "doc_id", "text", col("doc_id") % 41 === 0, 3),
      Some(s"""WITH $trigramCte,
              |tr AS (
              |  SELECT DISTINCT doc_id, ngram FROM g WHERE doc_id % 41 <> 0),
              |eg AS (SELECT DISTINCT ngram FROM g WHERE doc_id % 41 = 0)
              |SELECT tr.doc_id, count(*) AS n_overlap
              |FROM tr JOIN eg USING (ngram) GROUP BY 1""".stripMargin)),

    // graded decontamination (Dolma-style): per-doc FRACTION of distinct
    // trigrams shared with the eval slice, keep iff fraction < 1/16 — the
    // boundary test is integer (n_overlap*16 < n_grams) so both engines
    // agree bitwise; one left join + one aggregation carries hit count and
    // denominator together.
    Q("decontam_fraction",
      (s, dir) => Curation.contaminationFraction(
        documents(s, dir), "doc_id", "text", col("doc_id") % 41 === 0, 3),
      Some(s"""WITH $trigramCte,
              |tr AS (
              |  SELECT DISTINCT doc_id, ngram FROM g WHERE doc_id % 41 <> 0),
              |eg AS (SELECT DISTINCT ngram FROM g WHERE doc_id % 41 = 0),
              |j AS (
              |  SELECT tr.doc_id,
              |    CAST(count(*) AS BIGINT) AS n_grams,
              |    CAST(count(eg.ngram) AS BIGINT) AS n_overlap
              |  FROM tr LEFT JOIN eg ON tr.ngram = eg.ngram GROUP BY 1)
              |SELECT doc_id, n_grams, n_overlap,
              |  round(CAST(n_overlap AS DOUBLE) / n_grams, 9) AS contam_frac,
              |  CAST(n_overlap * 16 < n_grams AS INTEGER) AS keep
              |FROM j""".stripMargin)),

    // concat-and-chunk sequence packing (seqLen = 512): global token
    // offsets via the ordered-sweep running total, then each doc explodes
    // to the chunks its token span touches.
    Q("pack_sequences",
      (s, dir) => Curation.packSequences(documents(s, dir), "doc_id", "text", 512),
      Some(s"""WITH $toksCte,
              |b AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n FROM t),
              |c AS (
              |  SELECT doc_id, n, CAST(sum(n) OVER (ORDER BY doc_id
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
              |  FROM b),
              |p AS (SELECT doc_id, n, cum, cum - n AS prev FROM c WHERE n > 0),
              |e AS (
              |  SELECT doc_id, cum, prev,
              |    unnest(generate_series(prev // 512, (cum - 1) // 512)) AS chunk_id
              |  FROM p)
              |SELECT chunk_id, doc_id,
              |  greatest(prev, chunk_id * 512) - prev AS doc_off,
              |  least(cum, (chunk_id + 1) * 512) - greatest(prev, chunk_id * 512) AS n_toks
              |FROM e""".stripMargin)),

    // training-shard export planner: greedy doc_id-order packing into
    // ~4096-token shards via the ranged running total; manifest per shard
    Q("shard_manifest",
      (s, dir) => Curation.shardManifest(documents(s, dir), "doc_id", "text", 4096L),
      Some("""WITH n AS (
             |  SELECT doc_id,
             |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, n, CAST(sum(n) OVER (ORDER BY doc_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
             |  FROM n)
             |SELECT (cum - n) // 4096 AS shard_id,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(n) AS BIGINT) AS n_tokens,
             |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
             |FROM c GROUP BY 1""".stripMargin)),

    // overlapping token-window chunking (window 32, stride 16 → 50%
    // overlap) — the RAG ingestion shape; stateless per-doc explode
    Q("chunk_overlap",
      (s, dir) => Curation.chunkOverlap(documents(s, dir), "doc_id", "text",
        window = 32, stride = 16),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS t
             |  FROM documents),
             |st AS (
             |  -- starts derived from the data (select-list generate_series
             |  -- accepts columns; the LATERAL form does not) — no silent cap
             |  SELECT doc_id, t,
             |    CAST(unnest(generate_series(0, CAST(len(t) AS BIGINT) - 1, 16)) AS INT) AS start
             |  FROM t)
             |SELECT doc_id, CAST(start // 16 AS INT) AS chunk_idx,
             |  start AS start_token,
             |  CAST(least(32, len(t) - start) AS INT) AS n_tokens,
             |  array_to_string(list_slice(t, start + 1, start + 32), ' ') AS chunk
             |FROM st""".stripMargin)),

    // domain-mixture rebalancing: src0-src3 target 150 per-mille each, the
    // rest 25 per-mille; largest achievable total without upsampling, then
    // integer-exact deterministic hash sampling per source.
    Q("mixture_resample",
      (s, dir) => Curation.mixtureResample(
        documents(s, dir), "doc_id", "source",
        when(col("source").isin("src0", "src1", "src2", "src3"), lit(150L))
          .otherwise(lit(25L))),
      Some("""WITH c AS (SELECT source, count(*) AS cnt FROM documents GROUP BY 1),
             |f AS (SELECT source, cnt,
             |    CASE WHEN source IN ('src0','src1','src2','src3')
             |         THEN 150 ELSE 25 END AS f
             |  FROM c),
             |t AS (SELECT min(cnt * 1000 // f) AS T FROM f)
             |SELECT d.doc_id, d.source
             |FROM documents d JOIN f USING (source), t
             |WHERE ((d.doc_id % 2147483647) * 2654435761 + 40503) % 2147483647 % 1000 * f.cnt
             |      < f.f * t.T""".stripMargin)),

    // temperature-based LANGUAGE mixture (the XLM-R/mT5 shape, α = 1/2):
    // accept rate √(n_min/n_i) per language — low-resource languages kept
    // whole, the English head flattened (lang is the naturally skewed
    // column: en ≈ 3.4× fr); the α = 1/2 accept test is exact integer
    // arithmetic (u²·n_i < 10⁶·n_min)
    Q("mixture_temperature",
      (s, dir) => Curation.mixtureTemperature(documents(s, dir), "doc_id",
        "lang"),
      Some("""WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY 1),
             |m AS (SELECT min(cnt) AS nmin FROM c),
             |h AS (SELECT doc_id, lang,
             |    ((doc_id % 2147483647) * 2654435761 + 40503) % 2147483647 % 1000 AS u
             |  FROM documents)
             |SELECT h.doc_id, h.lang
             |FROM h JOIN c USING (lang), m
             |WHERE h.u * h.u * c.cnt < 1000000 * m.nmin""".stripMargin)),

    // repeated-span detection (fixed-n shingle suffix-dedup approximation):
    // every trigram position whose trigram occurs > 1 time corpus-wide.
    Q("dedup_spans",
      (s, dir) => Curation.repeatedSpans(documents(s, dir), "doc_id", "text", 3)
        .withColumn("pos", col("pos").cast("long")),
      Some(s"""WITH $trigramCte,
              |d AS (SELECT ngram, count(*) AS cnt FROM g
              |      GROUP BY 1 HAVING count(*) > 1)
              |SELECT g.doc_id, g.pos, g.ngram, d.cnt
              |FROM g JOIN d USING (ngram)""".stripMargin)),

    // Inverted-index build: per term df/cf over the full corpus + a
    // doc-ordered posting list truncated to the 20 lowest doc ids
    // (bounded output even for stop-words); truncation runs as two
    // bounded windows (per (term, salt) then per term) at scale.
    Q("corpus_inverted_index",
      (s, dir) => Curation.invertedIndex(documents(s, dir), "doc_id", "text",
        maxPostings = 20),
      Some(s"""WITH $toksCte,
             |tok AS (SELECT doc_id, unnest(toks) AS term FROM t),
             |td AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2),
             |st AS (SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf
             |       FROM td GROUP BY 1),
             |r AS (SELECT term, doc_id, tf,
             |    row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
             |  FROM td),
             |p AS (SELECT term,
             |    string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id) AS postings
             |  FROM r WHERE rn <= 20 GROUP BY term)
             |SELECT st.term, df, cf, postings
             |FROM st JOIN p ON st.term = p.term""".stripMargin)),

    // BM25 top-k RETRIEVAL (the serving loop): sampled query docs (first
    // 8 sorted distinct tokens each) join the postings relation on the
    // term key, per-term contributions DECIMAL-summed, top-5 candidates
    // per query by (score desc, doc id). Candidates come only from
    // posting intersections — no per-query corpus scan.
    Q("bm25_retrieve",
      (s, dir) => Curation.bm25Retrieve(documents(s, dir), "doc_id", "text",
        col("doc_id") % 101 === 0 && col("doc_id") < 10100,
        qTerms = 8, k = 5),
      Some(s"""WITH $toksCte,
              |wt AS (SELECT doc_id AS did, toks,
              |       CAST(len(toks) AS BIGINT) AS dl FROM t),
              |po AS (
              |  SELECT term, did, dl, CAST(count(*) AS BIGINT) AS tf FROM (
              |    SELECT did, dl, unnest(toks) AS term FROM wt)
              |  GROUP BY 1, 2, 3),
              |st AS (SELECT CAST(count(*) AS BIGINT) AS N,
              |       CAST(sum(dl) AS BIGINT) AS sdl FROM wt),
              |dfT AS (SELECT term, CAST(count(*) AS BIGINT) AS df
              |        FROM po GROUP BY 1),
              |q AS (
              |  SELECT doc_id AS qid,
              |    unnest(list_sort(list_distinct(toks))[1:8]) AS term
              |  FROM t WHERE doc_id % 101 = 0 AND doc_id < 10100),
              |sc AS (
              |  SELECT q.qid, po.did,
              |    CAST(sum(CAST(round(
              |      ln((N - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.2 /
              |      (tf + 1.2 * (0.25 + 0.75 * dl /
              |        (CAST(sdl AS DOUBLE) / N))), 9)
              |      AS DECIMAL(28,9))) AS DOUBLE) AS score
              |  FROM q JOIN po USING (term) JOIN dfT USING (term), st
              |  WHERE po.did <> q.qid
              |  GROUP BY 1, 2)
              |SELECT qid, did, score, CAST(rank AS INTEGER) AS rank
              |FROM (SELECT *, row_number() OVER (PARTITION BY qid
              |    ORDER BY score DESC, did) AS rank FROM sc)
              |WHERE rank <= 5""".stripMargin)),

    // BM25 scoring against a fixed query-term set; corpus stats are one
    // 1-row aggregate, scoring is a pure projection. Round-9 + DECIMAL sum
    // per term keeps engines bit-identical despite ln().
    Q("bm25_score",
      (s, dir) => Curation.bm25(
        documents(s, dir), "doc_id", "text",
        Seq("table", "value", "scan", "merge")),
      Some {
        val terms = Seq("table", "value", "scan", "merge")
        val dfAggs = terms.zipWithIndex.map { case (t, i) =>
          s"CAST(sum(CASE WHEN list_contains(toks, '$t') THEN 1 ELSE 0 END) AS BIGINT) AS df$i"
        }.mkString(",\n              |    ").stripMargin
        val contribs = terms.zipWithIndex.map { case (t, i) =>
          s"""CAST(round(ln((N - df$i + 0.5e0) / (df$i + 0.5e0) + 1.0e0)
             |      * len(list_filter(toks, x -> x = '$t')) * 2.2e0
             |      / (len(list_filter(toks, x -> x = '$t'))
             |         + 1.2e0 * (0.25e0 + 0.75e0 * dl / avgdl)), 9)
             |    AS DECIMAL(28,9))""".stripMargin
        }.mkString(" + ")
        s"""WITH $toksCte,
           |w AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM t),
           |s AS (
           |  SELECT count(*) AS N, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
           |    $dfAggs
           |  FROM w)
           |SELECT doc_id, dl, bm25 FROM (
           |  SELECT doc_id, dl, CAST($contribs AS DOUBLE) AS bm25
           |  FROM w, s)
           |WHERE bm25 > 0e0""".stripMargin
      }),

    // DSIR importance resampling: hashed word-bigram bag models (1024
    // buckets, add-one smoothing) for the target slice (lang = 'en') vs the
    // raw corpus; top-200 docs by summed log-likelihood ratio. Round-9 +
    // DECIMAL sum per bucket contribution keeps ranking engine-identical.
    Q("dsir_select",
      (s, dir) => Curation.dsirSelect(documents(s, dir), "doc_id", "text",
        col("lang") === "en", buckets = 1024, topK = 200),
      Some(s"""WITH tl AS (
              |  SELECT doc_id, lang = 'en' AS tt,
              |    list_filter(string_split(text, ' '), x -> length(x) > 0) AS toks
              |  FROM documents),
              |g AS (
              |  SELECT doc_id, tt,
              |    unnest(list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
              |      i -> concat_ws(' ', toks[i], toks[i+1]))) AS gram
              |  FROM tl),
              |gb AS (SELECT doc_id, tt,
              |    CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT) % 1024 AS b
              |  FROM g),
              |pd AS (SELECT doc_id, tt, b, count(*) AS n FROM gb GROUP BY 1, 2, 3),
              |tgt AS (SELECT b, sum(n) AS ct FROM pd WHERE tt GROUP BY b),
              |raw AS (SELECT b, sum(n) AS cr FROM pd GROUP BY b),
              |model AS (
              |  SELECT raw.b, coalesce(tgt.ct, 0) AS ct, raw.cr
              |  FROM raw LEFT JOIN tgt ON raw.b = tgt.b),
              |tot AS (SELECT sum(ct) AS Tt, sum(cr) AS Tr FROM model),
              |sc AS (
              |  SELECT pd.doc_id, pd.n,
              |    CAST(round(pd.n * (ln((model.ct + 1.0e0) / (tot.Tt + 1024.0e0))
              |      - ln((model.cr + 1.0e0) / (tot.Tr + 1024.0e0))), 9)
              |      AS DECIMAL(28,9)) AS c
              |  FROM pd JOIN model ON pd.b = model.b, tot)
              |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_grams,
              |  CAST(sum(c) AS DOUBLE) AS dsir_logratio
              |FROM sc GROUP BY doc_id
              |ORDER BY dsir_logratio DESC, doc_id
              |LIMIT 200""".stripMargin)),

    // maximal duplicated-span merging: adjacent duplicated trigram
    // positions coalesce into the token spans suffix-dedup would strip
    // (gaps-and-islands over dedup_spans; window partitioned per doc).
    Q("dedup_span_merge",
      (s, dir) => Curation.mergedDupSpans(documents(s, dir), "doc_id", "text", 3),
      Some(s"""WITH $trigramCte,
              |gm AS MATERIALIZED (SELECT doc_id, pos, ngram FROM g),
              |d AS (SELECT ngram FROM gm GROUP BY ngram HAVING count(*) > 1),
              |p AS (SELECT gm.doc_id, CAST(gm.pos AS BIGINT) AS pos
              |      FROM gm JOIN d USING (ngram)),
              |i AS (SELECT doc_id, pos,
              |        CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 2
              |             THEN 1 ELSE 0 END AS brk
              |      FROM p),
              |j AS (SELECT doc_id, pos,
              |        sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
              |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
              |      FROM i)
              |SELECT doc_id, min(pos) AS span_start, max(pos) + 2 AS span_end,
              |  CAST(count(*) AS BIGINT) AS n_grams
              |FROM j GROUP BY doc_id, grp""".stripMargin)),

    // the FILTER step after span merging: duplicated-token fraction per
    // doc (merged spans are disjoint → covered mass is a plain sum) and
    // the keep/drop decision at 50%.
    Q("dedup_span_fraction",
      (s, dir) => Curation.dupSpanFraction(documents(s, dir), "doc_id", "text",
        3, maxFrac = 0.5),
      Some(s"""WITH $trigramCte,
              |gm AS MATERIALIZED (SELECT doc_id, pos, ngram FROM g),
              |d AS (SELECT ngram FROM gm GROUP BY ngram HAVING count(*) > 1),
              |p AS (SELECT gm.doc_id, CAST(gm.pos AS BIGINT) AS pos
              |      FROM gm JOIN d USING (ngram)),
              |i AS (SELECT doc_id, pos,
              |        CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 2
              |             THEN 1 ELSE 0 END AS brk
              |      FROM p),
              |j AS (SELECT doc_id, pos,
              |        sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
              |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
              |      FROM i),
              |sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 2 AS e
              |       FROM j GROUP BY doc_id, grp),
              |dt AS (SELECT doc_id, sum(e - s + 1) AS dup_tokens FROM sp GROUP BY doc_id),
              |tot AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens
              |        FROM t WHERE len(toks) > 0)
              |SELECT tot.doc_id, tot.n_tokens,
              |  CAST(coalesce(dt.dup_tokens, 0) AS BIGINT) AS dup_tokens,
              |  round(coalesce(dt.dup_tokens, 0) / CAST(tot.n_tokens AS DOUBLE), 9) AS dup_frac,
              |  CAST(coalesce(dt.dup_tokens, 0) / CAST(tot.n_tokens AS DOUBLE) <= 0.5e0 AS INT) AS keep
              |FROM tot LEFT JOIN dt USING (doc_id)""".stripMargin)),

    // per-source corpus data card: doc/token/char mass, token-length
    // moments, language mix — one map-side-combinable aggregation.
    Q("corpus_data_card",
      (s, dir) => Curation.corpusDataCard(documents(s, dir), "doc_id", "text",
        "source", "lang"),
      Some("""WITH w AS (
             |  SELECT source, lang,
             |    CAST(len(list_filter(string_split(text, ' '),
             |      x -> length(x) > 0)) AS BIGINT) AS nt,
             |    CAST(length(text) AS BIGINT) AS nc
             |  FROM documents)
             |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(nt) AS BIGINT) AS n_tokens,
             |  CAST(sum(nc) AS BIGINT) AS n_chars,
             |  round(sum(nt) / CAST(count(*) AS DOUBLE), 9) AS avg_tokens,
             |  min(nt) AS min_tokens, max(nt) AS max_tokens,
             |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
             |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
             |FROM w GROUP BY source""".stripMargin)),

    // Naive Bayes quality classifier, train/apply split: fit bucket-count
    // bag models + doc priors on even doc_ids (label: lang = 'en'), score
    // every held-out doc with the exact-decimal log-likelihood ratio.
    Q("nb_quality_score",
      (s, dir) => Curation.nbClassify(documents(s, dir), "doc_id", "text",
        col("lang") === "en", col("doc_id") % 2 === 0, buckets = 256),
      Some(s"""WITH $nbCtes
              |SELECT doc_id, label, n_tokens, CAST(s AS DOUBLE) AS score,
              |  CAST(s > 0 AS INT) AS pred
              |FROM scored""".stripMargin)),

    // the evaluation step of the same classifier: held-out confusion
    // matrix (≤ 4 rows) — label vs prediction with doc/token mass.
    Q("nb_quality_eval",
      (s, dir) => Curation.nbConfusion(documents(s, dir), "doc_id", "text",
        col("lang") === "en", col("doc_id") % 2 === 0, buckets = 256),
      Some(s"""WITH $nbCtes
              |SELECT label, CAST(s > 0 AS INT) AS pred,
              |  CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens
              |FROM scored GROUP BY 1, 2""".stripMargin)),

    // calibration (reliability) table for the NB classifier: held-out
    // scores binned by integer log-odds floor (clamped ±8); per bin the
    // observed positive rate vs the mean score — the reliability diagram
    // behind any threshold choice.
    Q("nb_calibration",
      (s, dir) => Curation.nbCalibration(documents(s, dir), "doc_id", "text",
        col("lang") === "en", col("doc_id") % 2 === 0, buckets = 256),
      // mean_score in exact e9-integer HALF_UP space — double round(x,9)
      // of a 9-dp sum over an even count sits exactly on the .5 boundary
      // and the engines' round() disagree there (see Curation.nbCalibration)
      Some(s"""WITH $nbCtes,
              |cb AS (
              |  SELECT label,
              |    least(greatest(CAST(floor(s) AS INTEGER), -8), 8) AS bin,
              |    CAST(CAST(s AS DECIMAL(28,9)) * 1000000000 AS BIGINT) AS se9
              |  FROM scored)
              |SELECT CAST(bin AS INTEGER) AS bin,
              |  CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(label) AS BIGINT) AS n_pos,
              |  round(CAST(sum(label) AS DOUBLE) / count(*), 9) AS pos_rate,
              |  CAST(CAST(sign(sum(se9)) AS BIGINT) *
              |    ((abs(sum(se9)) * 2 + count(*)) // (2 * count(*)))
              |    AS DOUBLE) / 1e9 AS mean_score
              |FROM cb GROUP BY 1""".stripMargin)),

    // binned ROC AUC for the held-out NB scores: eighth-log-odds grid
    // (±8 clamp → 129 bins), ROC trapezoid in PURE INTEGERS over a bin
    // fold — 2·AUC·n1·n0 = Σ (2·TP_prev + pos)·neg descending by score;
    // equal-score pairs share a bin, which IS the midrank correction.
    Q("nb_auc",
      (s, dir) => Curation.nbAuc(documents(s, dir), "doc_id", "text",
        col("lang") === "en", col("doc_id") % 2 === 0, buckets = 256),
      Some(s"""WITH $nbCtes,
              |bb AS (SELECT least(greatest(CAST(floor(CAST(s AS DOUBLE) * 8)
              |      AS BIGINT), -64), 64) AS bin,
              |    CAST(sum(label) AS BIGINT) AS p,
              |    CAST(count(*) - sum(label) AS BIGINT) AS n
              |  FROM scored GROUP BY 1),
              |cu AS (SELECT bin, p, n,
              |    CAST(coalesce(sum(p) OVER (ORDER BY bin DESC
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              |      AS BIGINT) AS tp_prev
              |  FROM bb),
              |ag AS (SELECT CAST(sum(p) AS BIGINT) AS np,
              |    CAST(sum(n) AS BIGINT) AS nn,
              |    CAST(sum((2 * tp_prev + p) * n) AS BIGINT) AS num FROM cu)
              |SELECT np AS n_pos, nn AS n_neg, num AS auc_num2,
              |  round(CAST(num AS DOUBLE)
              |    / (2.0 * CAST(np AS DOUBLE) * CAST(nn AS DOUBLE)), 9) AS auc
              |FROM ag""".stripMargin)),

    // k-fold NB cross-validation in ONE corpus pass via leave-one-fold-out
    // count subtraction: fold f's model = global bucket counts − fold f's
    // own (no k re-trainings); per-fold held-out accuracy exposes split
    // variance. Model state = folds×buckets rows, broadcast.
    Q("nb_crossval",
      (s, dir) => Curation.nbCrossval(documents(s, dir), "doc_id", "text",
        col("lang") === "en", folds = 5, buckets = 256),
      Some("""WITH base AS (
             |  SELECT doc_id, CAST(lang = 'en' AS INT) AS y,
             |    CAST(doc_id % 5 AS INT) AS f, text
             |  FROM documents),
             |tok AS (SELECT doc_id, y, f,
             |    unnest(list_filter(string_split(text, ' '),
             |      x -> length(x) > 0)) AS g
             |  FROM base),
             |pd AS MATERIALIZED (
             |  SELECT doc_id, y, f,
             |    CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % 256 AS b,
             |    CAST(count(*) AS BIGINT) AS n
             |  FROM tok GROUP BY 1, 2, 3, 4),
             |fc AS (SELECT f, b,
             |    CAST(sum(CASE WHEN y = 1 THEN n ELSE 0 END) AS BIGINT) AS f1,
             |    CAST(sum(CASE WHEN y = 0 THEN n ELSE 0 END) AS BIGINT) AS f0
             |  FROM pd GROUP BY 1, 2),
             |gc AS (SELECT b, CAST(sum(f1) AS BIGINT) AS g1,
             |    CAST(sum(f0) AS BIGINT) AS g0 FROM fc GROUP BY 1),
             |grid AS (SELECT gf.f, gb.b
             |  FROM generate_series(0, 4) gf(f), generate_series(0, 255) gb(b)),
             |model AS (SELECT grid.f, grid.b,
             |    coalesce(gc.g1, 0) - coalesce(fc.f1, 0) AS n1,
             |    coalesce(gc.g0, 0) - coalesce(fc.f0, 0) AS n0
             |  FROM grid LEFT JOIN fc ON fc.f = grid.f AND fc.b = grid.b
             |  LEFT JOIN gc ON gc.b = grid.b),
             |tot AS (SELECT f, CAST(sum(n1) AS BIGINT) AS T1,
             |    CAST(sum(n0) AS BIGINT) AS T0 FROM model GROUP BY 1),
             |dc AS (SELECT f,
             |    CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
             |    CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d0
             |  FROM base GROUP BY 1),
             |dt AS (SELECT CAST(sum(d1) AS BIGINT) AS t1d,
             |    CAST(sum(d0) AS BIGINT) AS t0d FROM dc),
             |pri AS (SELECT f,
             |    CAST(round(ln((t1d - d1 + 1.0e0) / (t0d - d0 + 1.0e0)), 9)
             |      AS DECIMAL(28,9)) AS prior
             |  FROM dc, dt),
             |sc AS (SELECT pd.doc_id, pd.y, pd.f,
             |    CAST(round(pd.n * (ln((model.n1 + 1.0e0) / (tot.T1 + 256.0e0))
             |      - ln((model.n0 + 1.0e0) / (tot.T0 + 256.0e0))), 9)
             |      AS DECIMAL(28,9)) AS c
             |  FROM pd JOIN model ON model.f = pd.f AND model.b = pd.b
             |  JOIN tot ON tot.f = pd.f),
             |ds AS (SELECT doc_id, y, f, CAST(sum(c) AS DECIMAL(28,9)) AS s
             |  FROM sc GROUP BY 1, 2, 3),
             |pr2 AS (SELECT ds.y, ds.f,
             |    CASE WHEN pri.prior + ds.s > 0 THEN 1 ELSE 0 END AS pred
             |  FROM ds JOIN pri ON pri.f = ds.f)
             |SELECT CAST(f AS INT) AS fold, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(CASE WHEN pred = y THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_correct,
             |  round(CAST(sum(CASE WHEN pred = y THEN 1 ELSE 0 END) AS DOUBLE)
             |    / count(*), 9) AS accuracy
             |FROM pr2 GROUP BY 1""".stripMargin)),

    // isotonic (PAV) fit of the calibration table via the minimax closed
    // form iso_i = max_{j≤i} min_{k≥i} rate(j..k) — the monotone
    // probability curve thresholds should read instead of raw bin rates.
    // All joins are over the ≤17-row bin table (model-sized, audit-exempt
    // like the KMV group enumeration); interval rates are single double
    // divisions of exact integer sums.
    Q("nb_isotonic",
      (s, dir) => Curation.isotonicFit(
        Curation.nbCalibration(documents(s, dir), "doc_id", "text",
          col("lang") === "en", col("doc_id") % 2 === 0, buckets = 256)
          .select("bin", "n_docs", "n_pos")),
      Some(s"""WITH $nbCtes,
              |cb AS (
              |  SELECT least(greatest(CAST(floor(s) AS INTEGER), -8), 8) AS bin,
              |    CAST(label AS BIGINT) AS y
              |  FROM scored),
              |bins AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
              |    CAST(sum(y) AS BIGINT) AS n_pos FROM cb GROUP BY 1),
              |av AS (SELECT j.bin AS jb, k.bin AS kb,
              |    CAST(sum(t.n_pos) AS DOUBLE) / CAST(sum(t.n_docs) AS DOUBLE) AS a
              |  FROM bins j JOIN bins k ON j.bin <= k.bin
              |  JOIN bins t ON t.bin >= j.bin AND t.bin <= k.bin
              |  GROUP BY 1, 2),
              |mn AS (SELECT i.bin AS ib, av.jb, min(av.a) AS m
              |  FROM av JOIN bins i ON av.jb <= i.bin AND av.kb >= i.bin
              |  GROUP BY 1, 2),
              |iso AS (SELECT ib, round(max(m), 9) AS iso_rate FROM mn GROUP BY 1)
              |SELECT CAST(b.bin AS INTEGER) AS bin, b.n_docs, b.n_pos,
              |  round(CAST(b.n_pos AS DOUBLE)/CAST(b.n_docs AS DOUBLE), 9)
              |    AS pos_rate,
              |  iso.iso_rate
              |FROM bins b JOIN iso ON iso.ib = b.bin""".stripMargin)),

    // Unicode NFC + control-strip + whitespace-collapse — the normalize
    // pass a curation pipeline runs BEFORE any content hash or dedup
    // (decomposed e+U+0301 vs precomposed é would otherwise fingerprint
    // as distinct docs). NFC via the codegen'd NfcNormalize expression
    // (JDK Normalizer ≡ DuckDB's utf8proc, byte-identical on assigned
    // code points); the strip/collapse regexes are simple character
    // classes that Java regex and RE2 read identically. Pure per-row
    // projection — no shuffle at any scale; output stays compact (md5 of
    // the normalized text, not the text) so the gate compares content
    // without dumping the corpus.
    Q("text_nfc_normalize",
      (s, dir) => {
        val norm = trim(regexp_replace(regexp_replace(
          graft.functions.NfcNormalize(col("text")),
          "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""), "[ \\t]+", " "))
        documents(s, dir)
          .withColumn("norm", norm)
          .select(col("doc_id"), col("source"),
            when(col("norm") =!= col("text"), 1).otherwise(0).as("changed"),
            length(col("norm")).as("n_chars_norm"),
            md5(col("norm").cast("binary")).as("norm_md5"))
      },
      Some("""WITH n AS (
             |  SELECT doc_id, source, text,
             |    trim(regexp_replace(regexp_replace(nfc_normalize(text),
             |      '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'),
             |      '[ \t]+', ' ', 'g')) AS norm
             |  FROM documents)
             |SELECT doc_id, source,
             |  CAST(CASE WHEN norm <> text THEN 1 ELSE 0 END AS INTEGER)
             |    AS changed,
             |  CAST(length(norm) AS INTEGER) AS n_chars_norm,
             |  md5(norm) AS norm_md5
             |FROM n""".stripMargin)))

  // shared NB-classifier CTE chain: hashed-unigram bucket counts on the
  // training split (all 256 buckets, add-one smoothing), round-9 DECIMAL
  // contributions + prior, summed exactly per held-out doc → `scored`
  private def nbCtes: String =
    """base AS MATERIALIZED (
      |  SELECT doc_id, CAST(lang = 'en' AS INT) AS y, doc_id % 2 = 0 AS tr, text
      |  FROM documents),
      |tok AS (
      |  SELECT doc_id, y, tr,
      |    unnest(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS g
      |  FROM base),
      |pd AS MATERIALIZED (
      |  SELECT doc_id, y, tr,
      |    CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % 256 AS b,
      |    count(*) AS n
      |  FROM tok GROUP BY 1, 2, 3, 4),
      |cnt AS (
      |  SELECT b, sum(CASE WHEN y = 1 THEN n ELSE 0 END) AS n1,
      |         sum(CASE WHEN y = 0 THEN n ELSE 0 END) AS n0
      |  FROM pd WHERE tr GROUP BY b),
      |model AS (
      |  SELECT gs.b, coalesce(cnt.n1, 0) AS n1, coalesce(cnt.n0, 0) AS n0
      |  FROM generate_series(0, 255) gs(b) LEFT JOIN cnt ON gs.b = cnt.b),
      |tot AS (SELECT sum(n1) AS T1, sum(n0) AS T0 FROM model),
      |pri AS (
      |  SELECT CAST(round(ln((sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) + 1.0e0)
      |      / (sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) + 1.0e0)), 9)
      |    AS DECIMAL(28,9)) AS prior
      |  FROM base WHERE tr),
      |sc AS (
      |  SELECT pd.doc_id, pd.y, pd.n,
      |    CAST(round(pd.n * (ln((model.n1 + 1.0e0) / (tot.T1 + 256.0e0))
      |      - ln((model.n0 + 1.0e0) / (tot.T0 + 256.0e0))), 9)
      |      AS DECIMAL(28,9)) AS c
      |  FROM pd JOIN model ON pd.b = model.b, tot
      |  WHERE NOT pd.tr),
      |scored AS (
      |  SELECT doc_id, y AS label, CAST(sum(n) AS BIGINT) AS n_tokens,
      |    pri.prior + CAST(sum(c) AS DECIMAL(28,9)) AS s
      |  FROM sc, pri GROUP BY doc_id, y, pri.prior)""".stripMargin
}
