package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Text analysis for training-data pipelines (BASELINE.json north star):
 * language-ID heuristic, quality scoring, token counting, document
 * fingerprinting. Pure Column expressions — codegen'd, shuffle-free,
 * embarrassingly parallel over document rows at any scale.
 */
object TextAnalysis {

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    size(filter(split(text, " "), t => length(t) > 0))

  /** BPE-ish subword count: runs of letters, digits, or single non-space
    * symbols (regex piece counting — the common pre-tokenizer shape).
    * Takes the column NAME (used inside a SQL expr). */
  def subwordCount(textCol: String): Column =
    size(expr(s"regexp_extract_all($textCol, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))

  /** Quality metrics: character count, token count, mean token length,
    * stopword ratio, punctuation ratio. */
  def charCount(text: Column): Column = length(text)

  def meanTokenLen(text: Column): Column =
    // try_divide: a 0-token doc must yield NULL (DuckDB's x/0), not an
    // ANSI DIVIDE_BY_ZERO that kills the whole job (fuzz: empty docs)
    try_divide(length(regexp_replace(text, " ", "")).cast("double"),
      tokenCount(text))

  val defaultStopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "it", "on", "for")

  /** Fraction of tokens that are stopwords. */
  def stopwordRatio(text: Column, stopwords: Seq[String] = defaultStopwords): Column = {
    val toks = filter(split(text, " "), t => length(t) > 0)
    val hits = size(filter(toks, t => t.isInCollection(stopwords)))
    try_divide(hits.cast("double"), size(toks))
  }

  /** Language-ID by marker-token voting: per-language stopword lists scored
    * over the token set; returns the argmax label ('und' when no marker
    * hits). N-gram-frequency heuristic in the same shape as public langid
    * tools, deterministic and SQL-portable. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "of", "and", "to", "is", "value", "table", "row"),
    "es" -> Seq("el", "la", "de", "que", "los", "por"),
    "fr" -> Seq("le", "la", "les", "des", "est", "une"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "zh" -> Seq("shi", "de2", "bu", "zai", "wo"))

  def langScores(text: Column): Seq[(String, Column)] = {
    val toks = filter(split(text, " "), t => length(t) > 0)
    langMarkers.map { case (lang, markers) =>
      lang -> size(filter(toks, t => t.isInCollection(markers)))
    }
  }

  /** Argmax language with deterministic tie-break (declaration order wins);
    * 'und' when no marker hits. */
  def langId(text: Column): Column = {
    val scores = langScores(text)
    val maxScore = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und")) { case ((l, s), acc) =>
      when(s === maxScore && maxScore > 0, lit(l)).otherwise(acc)
    }
  }

  /** Normalized-content fingerprint: md5 of lowercased text with
    * non-alphanumerics collapsed to single spaces — byte-identical content
    * maps to one 128-bit key (the exact-dedup key for "same text modulo
    * formatting"). */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "[^a-z0-9]+", " ")))

  /** Non-empty whitespace tokens — project this ONCE and feed the array to
    * [[wordNgrams]]/[[duplicateNgramFraction]] so tokenization isn't
    * re-evaluated per n-gram element. */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => length(t) > 0)

  /** Word n-grams (space-joined) over a token-array column — empty below n
    * tokens (Spark's `sequence(1, 0)` DESCENDS, so the size guard is
    * required). */
  def wordNgrams(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + lit(j))): _*)))
      .otherwise(array())

  /** Gopher-style repetition metric: duplicate word-n-gram fraction within
    * a document — 1 − distinct/total (0 when no n-grams). High values flag
    * boilerplate/repetitive documents for filtering. */
  def duplicateNgramFraction(toks: Column, n: Int): Column = {
    val grams = wordNgrams(toks, n)
    val total = size(grams)
    when(total > 0,
      (total - size(array_distinct(grams))).cast("double") / total)
      .otherwise(0.0)
  }

  /** Single-pass codegen form of `wordNgrams(tokens(text), n)` — the
    * explode-input shape every decontam/dedup/PMI consumer uses. The HOF
    * form re-tokenizes per n-gram element as interpreted lambdas; the
    * kernel builds the gram array in one byte walk (value-identical,
    * QualityKernelSpec). */
  def textNgrams(text: Column, n: Int): Column =
    graft.functions.WordNgramsExpr(text, n)

  /** Single-pass codegen form of `duplicateNgramFraction(tokens(text), n)`
    * for hot projections: the HOF formulation re-evaluates the
    * tokenization and the n-gram `transform` several times once Catalyst
    * inlines the projection (NOTES.md records the fused signal projection
    * at 3.8 s for 5 000 docs), while [[graft.functions.DupNgramFraction]]
    * walks the UTF-8 bytes once. Value-identical (QualityKernelSpec proves
    * bitwise agreement on the corpus + edge shapes). */
  def repetitionFraction(text: Column, n: Int): Column =
    graft.functions.DupNgramFraction(text, n)

  /** Deterministic per-document sampling hash in [0, 1000): the
    * train/validation-split primitive. (a·(id mod p) + b) mod p — portable
    * integer arithmetic, reproducible on any engine, no RNG state. The id
    * reduces mod p BEFORE the multiply so the product stays below 2^63 for
    * any Long id (a·p ≈ 5.7e18): without it, ids ≥ ~3.47e9 silently wrap
    * negative in Spark while DuckDB raises an overflow error. Values are
    * unchanged for id < p = 2^31-1. */
  def sampleHash(id: Column): Column =
    ((id % 2147483647L) * 2654435761L + 40503L) % 2147483647L % 1000L

  /** Corpus-trained char-bigram language-model score per document: the
    * average log-likelihood of a doc's bigrams under add-one-smoothed
    * corpus statistics, P(c2|c1) = (count(c1c2)+1)/(count(c1·)+V). The
    * classic cheap fluency/quality signal — gibberish and wrong-charset
    * documents score far below the corpus mode.
    *
    * Scale design: the model (bigram counts) is bounded by alphabet², so
    * the two model joins are genuinely broadcastable; training is one
    * map-side-combinable count aggregation over (doc, bigram) rows; V is a
    * bounded driver scalar (like k-means centroids). Cross-engine exact:
    * each bigram's log-prob is rounded to 9 decimals and summed as exact
    * DECIMAL, so the per-doc mean is bit-identical regardless of
    * summation order.
    *
    * Output: (id, n_bigrams, lm_score). */
  /** Bounded LRU over the per-doc LM relation (the [[Similarity]] kmeans
    * memo pattern): three registered queries (text_lm_score,
    * quality_percentile_filter, quality_rank_fusion) read the same
    * 1-row-per-doc output, and bulk drivers release the Spread registry
    * between queries — without the memo each consumer re-runs both
    * corpus-sized bigram passes cold. The value is a localCheckpoint
    * (bounded: one row per doc), so it survives registry release;
    * eviction unpersists the blocks. */
  private val lmMemo =
    new BoundedMemo[(Int, Any, String), org.apache.spark.sql.DataFrame](4)(
      _.unpersist(false))

  def charBigramLmScore(df: org.apache.spark.sql.DataFrame, idCol: String,
                        textCol: String): org.apache.spark.sql.DataFrame = {
    val key = (df.sparkSession.hashCode(),
      df.queryExecution.analyzed.canonicalized, s"$idCol|$textCol")
    lmMemo.getOrCompute(key,
      // lazy: the first consumer action materializes (r18 pattern)
      charBigramLmScoreImpl(df, idCol, textCol).localCheckpoint(eager = false))
  }

  private def charBigramLmScoreImpl(df: org.apache.spark.sql.DataFrame,
                                    idCol: String,
                                    textCol: String): org.apache.spark.sql.DataFrame = {
    // shared: the exploded bigram relation feeds the count build, the
    // vocab-size count AND the scoring join — one evaluation, not three
    // explode a plain INT sequence and slice with scalar substr — both
    // codegen'd. Deliberately NOT cached: persisting the corpus-sized
    // bigram relation (15M deserialized rows at sf1) costs more than
    // running this whole-stage-codegen pipeline twice (once into the
    // counts aggregate, once into the scoring join) — cache the small
    // derived relations (counts, per-doc result) instead.
    val bg =
      Spread.byKey(df, col(idCol))
        .select(col(idCol).as("__id"), col(textCol).as("__t"),
          explode(expr(s"sequence(1, greatest(length($textCol) - 1, 1))")).as("__i"))
        .select(col("__id"), expr("substr(__t, __i, 2)").as("bg"))
        .filter(length(col("bg")) === 2)
    val counts = Spread.shared(
      bg.groupBy("bg").agg(count(lit(1)).as("cnt"))
        .withColumn("c1", substring(col("bg"), 1, 1)))
    val tots = counts.groupBy("c1").agg(sum("cnt").as("tot"))
    val v = counts.select(substring(col("bg"), 2, 1)).distinct().count()
    // the PER-DOC result is what's worth keeping: the scoring join +
    // per-doc aggregation over the full bigram mass is the dominant cost.
    // The caller memoizes this relation as a localCheckpoint (lmMemo), so
    // no Spread.shared here — that would just double-cache it.
    bg.join(broadcast(counts.select("bg", "cnt")), "bg")
      .withColumn("c1", substring(col("bg"), 1, 1))
      .join(broadcast(tots), "c1")
      .withColumn("lp",
        round(log((col("cnt") + 1).cast("double") / (col("tot") + lit(v)).cast("double")), 9)
          .cast("decimal(20,9)"))
      .groupBy(col("__id").as(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("lp")).cast("double") / count(lit(1))).as("lm_score"))
  }

  /** Simple quality score in [0,1]: length in sweet spot, few repeats,
    * reasonable mean token length (composite of the metrics above).
    * Computed by the single-pass codegen kernel
    * ([[graft.functions.QualityScore]]) — the Column formulation
    * ([[qualityScoreHof]]) re-evaluates `filter(split(text))` per
    * sub-term after projection inlining; the kernel is value-identical
    * (QualityKernelSpec). */
  def qualityScore(text: Column): Column =
    graft.functions.QualityScore(text)

  /** Reference HOF formulation of [[qualityScore]], kept as the
    * equivalence-spec oracle. */
  private[graft] def qualityScoreHof(text: Column): Column = {
    val n = charCount(text)
    val lenScore = when(n.between(100, 400), 1.0)
      .when(n < 100, n.cast("double") / 100.0)
      .otherwise(lit(400.0) / n)
    val mtl = meanTokenLen(text)
    val mtlScore = when(mtl.between(3.0, 8.0), 1.0).otherwise(0.5)
    (lenScore * 0.6 + mtlScore * 0.4)
  }

  // ---- PII scrubbing (C4/Dolma-style pre-training hygiene) -----------

  /** Patterns restricted to the RE2-compatible subset (no backreferences,
    * no lookaround) so Java-regex (Spark) and RE2 (DuckDB, and most
    * production scrubbers) agree match-for-match. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
  val Ipv4Re  = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Count + redact emails, phone numbers, and IPv4 addresses — the
    * standard PII scrub every web-scale pre-training pipeline runs before
    * packing. Pure column expressions (codegen'd regex over each row): no
    * shuffle, no UDF, embarrassingly parallel at any scale. Counts are
    * measured on the ORIGINAL text; redaction applies email → phone → ip
    * in that fixed order. Returns (id, n_emails, n_phones, n_ips,
    * n_chars_redacted, redacted_md5) — the digest stands in for the
    * scrubbed text so downstream equality checks stay row-sized. */
  /** TF-IDF vectorization — the sklearn-TfidfVectorizer shape: every
    * (doc, term) pair with tf, df and tf·ln(N/df). Two shuffles (term
    * counts per doc; document frequency over the distinct pairs), corpus
    * size as a 1-row broadcast. Scores round to 9 decimals (the repo's
    * ln-ulp discipline) and no ranking is taken inside the op, so
    * cross-engine last-ulp log differences cannot flip anything. */
  def tfidf(df: org.apache.spark.sql.DataFrame, idCol: String,
            textCol: String): org.apache.spark.sql.DataFrame = {
    val toks = df.select(col(idCol).cast("long").as("doc_id"),
        explode(expr(s"filter(split(`$textCol`, ' '), x -> x != '')")).as("word"))
    val tf = toks.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val dfr = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("__n"))
    tf.join(dfr, "word")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("word"), col("tf"), col("df"),
        round(col("tf") * log(col("__n").cast("double") / col("df")), 9).as("tfidf"))
  }

  /** Overlap semantics (deterministic, engine-consistent, mirrored in the
    * DuckDB oracle): n_emails/n_phones/n_ips each count pattern matches
    * against the ORIGINAL text independently, while redaction applies
    * sequentially (email, then phone, then IP) to the progressively-redacted
    * text. For inputs where patterns overlap (e.g. "555-123-4567@x.co": the
    * email replacement consumes the digits the phone pattern also matched),
    * the counts can exceed the number of placeholder substitutions visible
    * in the redacted digest — counts answer "what PII appeared", not "how
    * many replacements were made". */
  def piiRedact(df: org.apache.spark.sql.DataFrame, idCol: String,
                textCol: String): org.apache.spark.sql.DataFrame = {
    val t = col(textCol)
    val red = regexp_replace(
      regexp_replace(
        regexp_replace(t, EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"),
      Ipv4Re, "<IP>")
    df.select(col(idCol),
      size(regexp_extract_all(t, lit(EmailRe), lit(0))).as("n_emails"),
      size(regexp_extract_all(t, lit(PhoneRe), lit(0))).as("n_phones"),
      size(regexp_extract_all(t, lit(Ipv4Re), lit(0))).as("n_ips"),
      length(red).cast("long").as("n_chars_redacted"),
      md5(red).as("redacted_md5"))
  }

  /**
   * Top collocations by pointwise mutual information (Church & Hanks
   * 1990): PMI(x, y) = ln( P(x,y) / (P(x)·P(y)) ) over adjacent word
   * pairs — the corpus-statistics step behind phrase detection
   * (word2vec-style phrase merging, multi-word tokenizer entries). High
   * PMI = the pair co-occurs far above chance ("new york"); frequent but
   * independent pairs ("of the") score near 0.
   *
   * Counts are exact integers; the PMI ratio is evaluated in ONE fixed
   * expression-tree order — (c_xy·N_u·N_u) / (N_b·c_x·c_y) — then a
   * single ln and round-9, so both engines produce identical doubles.
   * min-count filter kills the unstable low-frequency tail. Scale: token
   * explode → map-side-combinable counts; the unigram relation is
   * vocabulary-bounded (join, broadcastable); top-k is orderBy+limit =
   * TakeOrderedAndProject with a (pmi, pair) tie-break.
   *
   * Output: (word_x, word_y, n_xy, n_x, n_y, pmi), top `topK`.
   */
  def pmiCollocations(df: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String, minCount: Int,
                      topK: Int): org.apache.spark.sql.DataFrame = {
    val base = Spread.shared(Spread.byKey(df, col(idCol))
      .select(tokens(col(textCol)).as("__toks")))
    val uni = Spread.shared(base.select(explode(col("__toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw")))
    val totals = uni.agg(sum("cw").as("__nu")).crossJoin(
      base.agg(sum(greatest(size(col("__toks")) - 1, lit(0))).as("__nb")))
    val bi = base.select(explode(wordNgrams(col("__toks"), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("n_xy"))
      .filter(col("n_xy") >= minCount)
      .withColumn("word_x", split(col("bg"), " ").getItem(0))
      .withColumn("word_y", split(col("bg"), " ").getItem(1))
    bi
      .join(uni.select(col("w").as("word_x"), col("cw").as("n_x")), "word_x")
      .join(uni.select(col("w").as("word_y"), col("cw").as("n_y")), "word_y")
      .crossJoin(broadcast(totals))
      .withColumn("pmi", round(log(
        (col("n_xy").cast("double") * col("__nu").cast("double") *
          col("__nu").cast("double")) /
        (col("__nb").cast("double") * col("n_x").cast("double") *
          col("n_y").cast("double"))), 9))
      .orderBy(col("pmi").desc, col("word_x"), col("word_y"))
      .limit(topK)
      .select("word_x", "word_y", "n_xy", "n_x", "n_y", "pmi")
  }
}
