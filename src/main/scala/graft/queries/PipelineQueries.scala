package graft.queries

import graft.ops.{Dedup, Multimodal, Similarity, Spread, TextAnalysis => TA}
import org.apache.spark.sql.functions._

/**
 * Training-data pipeline operators (dedup / similarity / text analysis /
 * multimodal) over the documents + embeddings tables, each with a DuckDB
 * oracle where SQL-expressible. Hash functions are pure integer arithmetic
 * so both engines agree exactly; dot products accumulate in index order.
 */
object PipelineQueries {
  import Tables._

  // shared distinct (source, trigram-hash) CTE chain for the KMV sketch
  // oracles — `h` is the deduped 60-bit hash set per source
  private def kmvTriCtes: String =
    """t AS (
      |  SELECT source,
      |    list_filter(string_split(text, ' '), x -> length(x) > 0) AS toks
      |  FROM documents),
      |g AS (
      |  SELECT source,
      |    unnest(list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
      |      i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS tri
      |  FROM t),
      |h AS MATERIALIZED (SELECT DISTINCT source,
      |    CAST(('0x' || substr(md5(tri), 1, 15)) AS BIGINT) AS h
      |  FROM g)""".stripMargin

  // SQ8 scalar-quantizer CTE chain (per-dim min/max model + int8 codes):
  // `ed` raw doubles, `mml` the 1-row (mn, mx) list model, `qc` the codes.
  // Starts with `ed` — do not also emit edCte when composing.
  private def sq8Ctes: String =
    s"""$edCte,
       |mm AS (SELECT g.i, min(e[g.i]) AS mn, max(e[g.i]) AS mx
       |       FROM ed, generate_series(1, 64) g(i) GROUP BY g.i),
       |mml AS (SELECT list(mn ORDER BY i) AS mn, list(mx ORDER BY i) AS mx
       |        FROM mm),
       |qc AS MATERIALIZED (
       |  SELECT id, list_transform(generate_series(1, 64),
       |    i -> CASE WHEN mml.mx[i] = mml.mn[i] THEN 0
       |         ELSE CAST(round((e[i] - mml.mn[i]) * 255.0 /
       |           (mml.mx[i] - mml.mn[i]), 0) AS INTEGER) END) AS q
       |  FROM ed, mml)""".stripMargin

  // shared hash-family VALUES fragment for oracles
  private def hpSql(k: Int, cols: String): String =
    Dedup.hashParams(k).map { case (i, a, b) => s"($i, $a, $b)" }
      .mkString(s"(VALUES ", ", ", s") hp($cols)")

  // simhash near-dup pair CTE chain (16 bits, hamming <= 2, source-scoped),
  // shared by the dedup_simhash / dedup_components / dedup_cluster_keep
  // oracles — `spairs` is (id_a, id_b, hamming) with id_a < id_b
  private def simhashPairCtes: String =
    s"""toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |tx AS (
       |  SELECT doc_id,
       |    CAST(coalesce(ascii(substr(tok,1,1)), 0) AS BIGINT)*16777216
       |    + CAST(coalesce(ascii(substr(tok,2,1)), 0) AS BIGINT)*65536
       |    + coalesce(ascii(substr(tok,3,1)), 0)*256
       |    + coalesce(ascii(substr(tok,4,1)), 0) AS x
       |  FROM toks WHERE length(tok) > 0),
       |bits AS (
       |  SELECT doc_id, hp.j,
       |    sum(CAST(((CAST(hp.a AS HUGEINT) * x + hp.b) % 2147483647 % 2) * 2 - 1 AS BIGINT)) AS s
       |  FROM tx, ${hpSql(16, "j, a, b")}
       |  GROUP BY doc_id, hp.j),
       |sig AS (
       |  SELECT doc_id,
       |    sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS simhash
       |  FROM bits GROUP BY doc_id),
       |scoped AS (SELECT s.doc_id, simhash, d.source FROM sig s JOIN documents d USING (doc_id)),
       |spairs AS (
       |  SELECT a.doc_id id_a, b.doc_id id_b,
       |    CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
       |  FROM scoped a JOIN scoped b
       |    ON a.source = b.source AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 2)""".stripMargin

  // Lloyd's k-means CTE chain, iterations unrolled (the oracle replays the
  // SAME fixed-round training): micro-unit quantized inputs, seeds = first
  // k vectors by id, argmin of |c|^2 - 2 x.c with cent_id tie-break, exact
  // integer-sum means, empty cells keep their previous centroid
  private def kmeansCtes(k: Int, dims: Int, iters: Int): String = {
    val sb = new StringBuilder(
      s"""xq AS (
         |  SELECT vec_id AS id,
         |    list_transform(embedding,
         |      v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT)) AS xi
         |  FROM embeddings),
         |xd AS (SELECT id, xi,
         |    list_transform(xi, v -> CAST(v AS DOUBLE) / 1000000.0) AS x
         |  FROM xq),
         |cent0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS BIGINT) AS cent_id,
         |    x AS cx
         |  FROM (SELECT id, x FROM xd ORDER BY id LIMIT $k))""".stripMargin)
    for (t <- 1 to iters) {
      sb.append(s""",
         |asg$t AS (
         |  SELECT id, xi, cell FROM (
         |    SELECT xd.id, xd.xi, c.cent_id AS cell,
         |      row_number() OVER (PARTITION BY xd.id ORDER BY
         |        list_sum(list_transform(generate_series(1, $dims), i -> c.cx[i] * c.cx[i]))
         |        - 2 * list_sum(list_transform(generate_series(1, $dims), i -> xd.x[i] * c.cx[i])),
         |        c.cent_id) AS rn
         |    FROM xd, cent${t - 1} c) WHERE rn = 1),
         |cm$t AS (
         |  SELECT cell AS cent_id, g.i AS i,
         |    CAST(CAST(sum(xi[g.i]) AS BIGINT) AS DOUBLE) / (1000000.0 * count(*)) AS v
         |  FROM asg$t, generate_series(1, $dims) g(i)
         |  GROUP BY cell, g.i),
         |centm$t AS (SELECT cent_id, list(v ORDER BY i) AS cx FROM cm$t GROUP BY cent_id),
         |cent$t AS (
         |  SELECT cent_id, cx FROM centm$t
         |  UNION ALL
         |  SELECT p.cent_id, p.cx FROM cent${t - 1} p
         |  WHERE p.cent_id NOT IN (SELECT cent_id FROM centm$t))""".stripMargin)
    }
    sb.toString
  }

  /** Per-subspace PQ codebook training + final assignment as DuckDB CTEs —
    * [[kmeansCtes]] generalized to `m` independent sub-quantizers over
    * contiguous `dsub`-dim slices of `vcol` in CTE `src` (the raw doubles
    * `ed`, or a residual relation). Emits, per subspace s: `xq_s`/`xd_s`
    * (micro-unit-quantized subvectors), `cent{0..iters}_s` (Lloyd rounds),
    * and `codes_s` (final nearest-codeword assignment, ties by codeword
    * id). Also emits `ed` (shared raw doubles) once. */
  private val edCte =
    """ed AS MATERIALIZED (SELECT vec_id AS id,
      |    list_transform(embedding, v -> CAST(v AS DOUBLE)) AS e
      |  FROM embeddings)""".stripMargin

  /** MinHash-LSH candidate pipeline as a CTE list ending in
    * `est(id_a, id_b, est_jaccard)` (char-3 shingles → 16 minhashes →
    * 2 banded keys → candidate pairs → signature-agreement estimate),
    * shared by dedup_minhash_lsh and the lsh_quality eval; also leaves
    * `sh(doc_id, sh)` (distinct shingles) in scope for the truth side. */
  private def minhashEstCtes(src: String = "documents"): String =
    s"""pos AS (
       |  SELECT doc_id, text, unnest(generate_series(1, greatest(length(text)-2, 1))) AS i
       |  FROM $src),
       |sh AS MATERIALIZED (SELECT DISTINCT doc_id, substr(text, i, 3) AS sh FROM pos),
       |shx AS (SELECT doc_id,
       |    CAST(ascii(substr(sh,1,1)) AS BIGINT)*65536 + ascii(substr(sh,2,1))*256 + ascii(substr(sh,3,1)) AS x
       |  FROM sh),
       |sig AS MATERIALIZED (
       |  SELECT doc_id, hp.i, min(CAST((CAST(hp.a AS HUGEINT) * x + hp.b) % 2147483647 AS BIGINT)) AS minhash
       |  FROM shx, ${hpSql(16, "i, a, b")}
       |  GROUP BY doc_id, hp.i),
       |bandkey AS (
       |  SELECT doc_id, i // 8 AS band,
       |    string_agg(minhash, ',' ORDER BY i) AS key
       |  FROM sig GROUP BY doc_id, i // 8),
       |cand AS (
       |  SELECT DISTINCT a.doc_id id_a, b.doc_id id_b
       |  FROM bandkey a JOIN bandkey b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |est AS (
       |  SELECT id_a, id_b,
       |    sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) / 16.0 AS est_jaccard
       |  FROM cand
       |  JOIN sig sa ON sa.doc_id = id_a
       |  JOIN sig sb ON sb.doc_id = id_b AND sb.i = sa.i
       |  GROUP BY 1, 2)""".stripMargin

  /** L2-normalized embeddings (`en`): the cosine between two rows is a
    * plain sequential dot — same normalize-then-dot order as Spark's
    * [[graft.ops.Similarity]] `normalized`+`ndot`, so the doubles agree
    * bitwise. */
  // zero-norm vectors have no direction: excluded from every cosine op
  // (the Spark side filters them in Similarity.normalized — ANSI /0 would
  // otherwise kill the job on the first all-zero embedding)
  private val enCte =
    """e0n AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      |  FROM embeddings),
      |en AS MATERIALIZED (SELECT vec_id,
      |    list_transform(generate_series(1, 64), i -> emb[i] /
      |      sqrt(list_sum(list_transform(generate_series(1, 64),
      |        j -> emb[j] * emb[j])))) AS e
      |  FROM e0n
      |  WHERE list_sum(list_transform(generate_series(1, 64),
      |    j -> emb[j] * emb[j])) > 0)""".stripMargin

  /** The full raw-vector IVF-PQ ADC pipeline (coarse cells → codebooks →
    * per-query LUTs → per-cell candidate pairs → summed ADC score) as a
    * CTE list ending in `scored(vec_id, cell, neighbor_id, adc)` — shared
    * by similarity_pq and the two-stage rerank/recall oracles so the three
    * stay in lockstep. */
  private lazy val pqScoredCtes: String =
    s"""${kmeansCtes(8, 64, 3)},
       |xdd AS (SELECT id, list_transform(xi, v -> CAST(v AS DOUBLE) / 1000000.0) AS x FROM xq),
       |asgf AS (
       |  SELECT id, cell FROM (
       |    SELECT xdd.id, c.cent_id AS cell,
       |      row_number() OVER (PARTITION BY xdd.id ORDER BY
       |        list_sum(list_transform(generate_series(1, 64), i -> c.cx[i] * c.cx[i]))
       |        - 2 * list_sum(list_transform(generate_series(1, 64), i -> xdd.x[i] * c.cx[i])),
       |        c.cent_id) AS rn
       |    FROM xdd, cent3 c) WHERE rn = 1),
       |${pqCtes(4, 16, 16, 2)},
       |${(0 until 4).map(s =>
           s"""lut_$s AS (SELECT ed.id AS q_id, c.cent_id AS code,
              |    list_sum(list_transform(generate_series(1, 16),
              |      i -> ed.e[${s * 16} + i] * c.cx[i])) AS part
              |  FROM ed, cent2_$s c)""".stripMargin).mkString(",\n")},
       |prs AS (
       |  SELECT q.id AS vec_id, q.cell, d.id AS neighbor_id
       |  FROM asgf q JOIN asgf d ON q.cell = d.cell AND q.id <> d.id),
       |scored AS MATERIALIZED (
       |  SELECT p.vec_id, p.cell, p.neighbor_id,
       |    ((l0.part + l1.part) + l2.part) + l3.part AS adc
       |  FROM prs p
       |  JOIN codes_0 c0 ON c0.id = p.neighbor_id
       |  JOIN lut_0 l0 ON l0.q_id = p.vec_id AND l0.code = c0.code
       |  JOIN codes_1 c1 ON c1.id = p.neighbor_id
       |  JOIN lut_1 l1 ON l1.q_id = p.vec_id AND l1.code = c1.code
       |  JOIN codes_2 c2 ON c2.id = p.neighbor_id
       |  JOIN lut_2 l2 ON l2.q_id = p.vec_id AND l2.code = c2.code
       |  JOIN codes_3 c3 ON c3.id = p.neighbor_id
       |  JOIN lut_3 l3 ON l3.q_id = p.vec_id AND l3.code = c3.code)""".stripMargin

  /** When `emitEd` is false the output STARTS with a comma (the caller has
    * already emitted the preceding CTE list including `ed`). */
  private def pqCtes(m: Int, dsub: Int, ksub: Int, iters: Int,
                     src: String = "ed", vcol: String = "e",
                     emitEd: Boolean = true): String = {
    val sb = new StringBuilder(if (emitEd) edCte else "")
    for (s <- 0 until m) {
      val off = s * dsub
      sb.append(s""",
         |xq_$s AS (SELECT id,
         |    list_transform(generate_series(${off + 1}, ${off + dsub}),
         |      i -> CAST(floor($vcol[i] * 1000000.0) AS BIGINT)) AS xi
         |  FROM $src),
         |xd_$s AS MATERIALIZED (SELECT id, xi,
         |    list_transform(xi, v -> CAST(v AS DOUBLE) / 1000000.0) AS x
         |  FROM xq_$s),
         |cent0_$s AS (
         |  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS BIGINT) AS cent_id,
         |    x AS cx
         |  FROM (SELECT id, x FROM xd_$s ORDER BY id LIMIT $ksub))""".stripMargin)
      for (t <- 1 to iters) {
        sb.append(s""",
           |asg${t}_$s AS (
           |  SELECT id, xi, cell FROM (
           |    SELECT xd.id, xd.xi, c.cent_id AS cell,
           |      row_number() OVER (PARTITION BY xd.id ORDER BY
           |        list_sum(list_transform(generate_series(1, $dsub), i -> c.cx[i] * c.cx[i]))
           |        - 2 * list_sum(list_transform(generate_series(1, $dsub), i -> xd.x[i] * c.cx[i])),
           |        c.cent_id) AS rn
           |    FROM xd_$s xd, cent${t - 1}_$s c) WHERE rn = 1),
           |cm${t}_$s AS (
           |  SELECT cell AS cent_id, g.i AS i,
           |    CAST(CAST(sum(xi[g.i]) AS BIGINT) AS DOUBLE) / (1000000.0 * count(*)) AS v
           |  FROM asg${t}_$s, generate_series(1, $dsub) g(i)
           |  GROUP BY cell, g.i),
           |centm${t}_$s AS (SELECT cent_id, list(v ORDER BY i) AS cx FROM cm${t}_$s GROUP BY cent_id),
           |cent${t}_$s AS (
           |  SELECT cent_id, cx FROM centm${t}_$s
           |  UNION ALL
           |  SELECT p.cent_id, p.cx FROM cent${t - 1}_$s p
           |  WHERE p.cent_id NOT IN (SELECT cent_id FROM centm${t}_$s))""".stripMargin)
      }
      sb.append(s""",
         |codes_$s AS (
         |  SELECT id, cell AS code FROM (
         |    SELECT xd.id, c.cent_id AS cell,
         |      row_number() OVER (PARTITION BY xd.id ORDER BY
         |        list_sum(list_transform(generate_series(1, $dsub), i -> c.cx[i] * c.cx[i]))
         |        - 2 * list_sum(list_transform(generate_series(1, $dsub), i -> xd.x[i] * c.cx[i])),
         |        c.cent_id) AS rn
         |    FROM xd_$s xd, cent${iters}_$s c) WHERE rn = 1)""".stripMargin)
    }
    sb.toString
  }

  def qs: Seq[Q] = Seq(
    // ---- dedup -------------------------------------------------------
    Q("dedup_exact",
      (s, dir) => Dedup.exact(documents(s, dir), "doc_id", "text")
        .select("doc_id", "source", "n_chars"),
      Some("""SELECT doc_id, source, n_chars FROM (
             |  SELECT doc_id, source, n_chars,
             |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
             |  FROM documents) WHERE rn = 1""".stripMargin)),

    // C4/RefinedWeb span-level exact dedup with reassembly: every repeated
    // 8-token chunk keeps only its first corpus-order occurrence; docs are
    // rebuilt from surviving chunks. First-occurrence selection is a
    // map-side-combinable min over the packed (doc_id, chunk_idx) key per
    // chunk digest — a viral chunk aggregates, it never sorts.
    Q("dedup_chunk_reassemble",
      (s, dir) => Dedup.chunkDedup(documents(s, dir), "doc_id", "text", 8),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> length(x) > 0) AS toks
             |  FROM documents),
             |ch AS MATERIALIZED (
             |  SELECT doc_id,
             |    unnest(list_transform(generate_series(1, (len(toks) + 7) // 8),
             |      c -> c - 1)) AS chunk_idx,
             |    unnest(list_transform(generate_series(1, (len(toks) + 7) // 8),
             |      c -> array_to_string(toks[(c-1)*8+1 : (c-1)*8+8], ' '))) AS chunk_text
             |  FROM t),
             |fi AS (
             |  SELECT md5(chunk_text) AS dig,
             |    min(doc_id * 1048576 + chunk_idx) AS first
             |  FROM ch GROUP BY 1),
             |kp AS (
             |  SELECT ch.doc_id, ch.chunk_idx, ch.chunk_text
             |  FROM ch JOIN fi ON md5(ch.chunk_text) = fi.dig
             |    AND ch.doc_id * 1048576 + ch.chunk_idx = fi.first),
             |agg AS (
             |  SELECT doc_id, CAST(count(*) AS INT) AS n_kept,
             |    string_agg(chunk_text, ' ' ORDER BY chunk_idx) AS clean_text
             |  FROM kp GROUP BY 1)
             |SELECT t.doc_id, CAST((len(toks) + 7) // 8 AS INT) AS n_chunks,
             |  coalesce(agg.n_kept, 0) AS n_kept,
             |  coalesce(agg.clean_text, '') AS clean_text
             |FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id""".stripMargin)),

    // the curation waterfall: the full filter stack composed end-to-end —
    // near-dup cluster keepers → Gopher rules → boilerplate removal — with
    // the per-stage survivor/token counts every training-data run reports.
    // Each stage reuses the registered operators verbatim; the boilerplate
    // document-frequency threshold re-scopes to the corpus that reaches it
    // (as a real pipeline's would).
    Q("curation_waterfall",
      (s, dir) => {
        val docs = documents(s, dir)
        val pairs = Dedup.simhashPairs(docs, "doc_id", "text", "source", 16, 2)
        val comp = Dedup.connectedComponents(pairs, docs, "doc_id")
        // Spread + share the dedup-survivor relation: k1 feeds THREE
        // consumers (its own stage count, the gopher filter, and through
        // k2 the boilerplate pass + k3) — uncached, the join and the
        // rlike-heavy gopher predicate re-executed per consumer, all on
        // the single-partition documents scan (r18 ProbeQ: a tail of
        // 1-task 0.3-0.8 s stages). One cached 32-wide pass each.
        val k1 = Spread.shared(Spread.byKey(docs, col("doc_id")).join(
          comp.filter(col("doc_id") === col("comp")).select("doc_id"), "doc_id"))
        val toks = TA.tokens(col("text"))
        def gopherKeep(df: org.apache.spark.sql.DataFrame) = df.filter(
          size(toks) >= 20 && size(toks) <= 1000 &&
          round(TA.meanTokenLen(col("text")), 8).between(3.0, 10.0) &&
          round(size(filter(toks, t => t.rlike("[a-z]"))).cast("double") /
            size(toks), 8) >= 0.8 &&
          size(array_intersect(array_distinct(toks),
            lit(TA.defaultStopwords.toArray))) >= 2)
        val k2 = Spread.shared(gopherKeep(k1))
        val bp = Dedup.boilerplateChunks(k2, "doc_id", "text", 2, 1.0 / 32)
        val k3 = k2.join(bp.filter(col("n_kept") > 0).select("doc_id"), "doc_id")
        def stage(df: org.apache.spark.sql.DataFrame, i: Int, label: String) =
          df.agg(count(lit(1)).as("n_docs"),
              coalesce(sum(size(toks)).cast("long"), lit(0L)).as("n_tokens"))
            .select(lit(i).as("stage_idx"), lit(label).as("stage"),
              col("n_docs"), col("n_tokens"))
        stage(docs, 0, "raw")
          .unionByName(stage(k1, 1, "dedup_keep"))
          .unionByName(stage(k2, 2, "gopher"))
          .unionByName(stage(k3, 3, "boilerplate"))
      },
      Some(s"""WITH RECURSIVE $simhashPairCtes,
             |edges AS (SELECT id_a AS src, id_b AS dst FROM spairs
             |          UNION ALL SELECT id_b, id_a FROM spairs),
             |walk(id, comp) AS (
             |  SELECT doc_id, doc_id FROM documents
             |  UNION
             |  SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.id),
             |cc AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id),
             |t0 AS (SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> length(x) > 0) AS tk
             |  FROM documents),
             |k1 AS (SELECT d.doc_id, d.text FROM documents d
             |  JOIN cc ON d.doc_id = cc.id AND cc.id = cc.comp),
             |t1 AS (SELECT doc_id, text,
             |    list_filter(string_split(text, ' '), x -> length(x) > 0) AS tk
             |  FROM k1),
             |k2 AS (SELECT doc_id, text, tk FROM t1
             |  WHERE len(tk) BETWEEN 20 AND 1000
             |    AND round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
             |      / len(tk), 8) BETWEEN 3.0 AND 10.0
             |    AND round(CAST(len(list_filter(tk,
             |      x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / len(tk), 8) >= 0.8
             |    AND len(list_intersect(list_distinct(tk),
             |      [${TA.defaultStopwords.map("'" + _ + "'").mkString(",")}])) >= 2),
             |nd AS (SELECT count(*) AS n FROM k2),
             |ch AS MATERIALIZED (
             |  SELECT doc_id,
             |    unnest(list_transform(generate_series(1, (len(tk) + 1) // 2),
             |      c -> array_to_string(tk[(c-1)*2+1 : (c-1)*2+2], ' '))) AS ct
             |  FROM k2),
             |hot AS (
             |  SELECT md5(ct) AS dig FROM ch, nd GROUP BY 1, nd.n
             |  HAVING CAST(count(DISTINCT doc_id) AS DOUBLE) >=
             |    (1e0/32e0) * CAST(nd.n AS DOUBLE)),
             |kp AS (SELECT DISTINCT ch.doc_id FROM ch
             |  LEFT JOIN hot ON md5(ch.ct) = hot.dig WHERE hot.dig IS NULL),
             |k3 AS (SELECT k2.doc_id, k2.tk FROM k2 JOIN kp USING (doc_id)),
             |w AS (
             |  SELECT 0 AS stage_idx, 'raw' AS stage, count(*) AS n_docs,
             |    coalesce(sum(len(tk)), 0) AS n_tokens FROM t0
             |  UNION ALL SELECT 1, 'dedup_keep', count(*),
             |    coalesce(sum(len(tk)), 0) FROM t1
             |  UNION ALL SELECT 2, 'gopher', count(*),
             |    coalesce(sum(len(tk)), 0) FROM k2
             |  UNION ALL SELECT 3, 'boilerplate', count(*),
             |    coalesce(sum(len(tk)), 0) FROM k3)
             |SELECT CAST(stage_idx AS INTEGER) AS stage_idx, stage,
             |  CAST(n_docs AS BIGINT) AS n_docs,
             |  CAST(n_tokens AS BIGINT) AS n_tokens
             |FROM w""".stripMargin)),

    // EXACT repeated-substring spans (Lee et al. 2021 exact-substring
    // dedup): maximal >= 3-token spans occurring verbatim more than once
    // in the corpus — window-hash + interval-merge formulation of the
    // suffix-array algorithm (every stage a linear shuffle; see
    // Dedup.substringSpans scaladoc).
    Q("dedup_substring_spans",
      (s, dir) => Dedup.substringSpans(documents(s, dir), "doc_id", "text", 3),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> length(x) > 0) AS tk
             |  FROM documents),
             |w AS (
             |  SELECT doc_id, g.i - 1 AS pos,
             |    md5(array_to_string(tk[g.i:g.i+2], ' ')) AS h
             |  FROM t, generate_series(1, 256) g(i)
             |  WHERE g.i <= len(tk) - 2),
             |capchk AS (
             |  SELECT count(*) AS nover FROM t WHERE len(tk) > 256),
             |c AS (SELECT h FROM w GROUP BY h HAVING count(*) > 1),
             |r AS (SELECT w.doc_id, w.pos FROM w JOIN c USING (h)),
             |m AS (SELECT doc_id, pos,
             |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
             |        IS NULL
             |      OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 3
             |      THEN 1 ELSE 0 END AS nw
             |  FROM r),
             |i AS (SELECT doc_id, pos,
             |    sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
             |  FROM m)
             |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
             |  CAST(max(pos) + 2 AS BIGINT) AS span_end,
             |  CAST(max(pos) + 3 - min(pos) AS BIGINT) AS n_tokens
             |FROM i
             |WHERE (SELECT nover FROM capchk) = 0
             |GROUP BY doc_id, isl""".stripMargin)),

    // strict exact-substring CLEANING: every token covered by a repeated
    // span dropped, remaining tokens reassembled in order (the filtering
    // variant of Lee et al. dedup — all occurrences removed,
    // deterministic). Oracle rebuilds the cleaned text per doc.
    Q("dedup_substring_clean",
      (s, dir) => Dedup.substringClean(documents(s, dir), "doc_id", "text", 3),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> length(x) > 0) AS tk
             |  FROM documents),
             |w AS (
             |  SELECT doc_id, g.i - 1 AS pos,
             |    md5(array_to_string(tk[g.i:g.i+2], ' ')) AS h
             |  FROM t, generate_series(1, 256) g(i)
             |  WHERE g.i <= len(tk) - 2),
             |c AS (SELECT h FROM w GROUP BY h HAVING count(*) > 1),
             |r AS (SELECT w.doc_id, w.pos FROM w JOIN c USING (h)),
             |cov AS (
             |  SELECT DISTINCT r.doc_id, r.pos + g.o AS cpos
             |  FROM r, generate_series(0, 2) g(o)),
             |kept AS (
             |  SELECT t.doc_id, tok.i - 1 AS pos, tk[tok.i] AS tokn
             |  FROM t, generate_series(1, 256) tok(i)
             |  WHERE tok.i <= len(tk)
             |    AND NOT EXISTS (SELECT 1 FROM cov
             |      WHERE cov.doc_id = t.doc_id AND cov.cpos = tok.i - 1)),
             |capchk AS (
             |  SELECT count(*) AS nover FROM t WHERE len(tk) > 256)
             |SELECT t.doc_id,
             |  CAST(len(tk) AS BIGINT) AS n_tokens_orig,
             |  -- null text: kept is NULL like n_tokens_orig (the engine's
             |  -- size(filter(NULL)) = NULL), not a fake 0
             |  CAST(CASE WHEN tk IS NULL THEN NULL ELSE coalesce(k.n, 0) END
             |    AS BIGINT) AS n_tokens_kept,
             |  coalesce(k.txt, '') AS clean_text
             |FROM t LEFT JOIN (
             |  SELECT doc_id, count(*) AS n,
             |    string_agg(tokn, ' ' ORDER BY pos) AS txt
             |  FROM kept GROUP BY doc_id) k USING (doc_id)
             |WHERE (SELECT nover FROM capchk) = 0""".stripMargin)),

    // THE SCALE PATH for dedup_fuzzy_prefix: PassJoin segment blocking
    // (VLDB'11 pigeonhole — one of the shorter side's tau+1 segments
    // survives any <= tau edits, so the longer side contains it at a
    // position-filtered offset) + the banded-Levenshtein verify on
    // candidates only. EXACT: identical result set to the quadratic form
    // at every corpus (ScalePathSpec proves it; no recall contract), so
    // the oracle is simply the quadratic SQL. Probe volume is a constant
    // per doc — candidate generation is linear in corpus size.
    Q("dedup_fuzzy_blocked",
      (s, dir) => Dedup.fuzzyPrefixPairs(documents(s, dir), "doc_id", "text",
        "source", 5, 8),
      // coalesce: DuckDB's array_to_string over an EMPTY list yields NULL
      // (Spark's concat_ws yields '') — without it every pair touching an
      // empty-prefix doc silently drops out of the oracle
      Some("""WITH t AS (
             |  SELECT doc_id, source,
             |    coalesce(array_to_string((list_filter(string_split(text, ' '),
             |      x -> length(x) > 0))[1:5], ' '), '') AS pfx
             |  FROM documents)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  CAST(levenshtein(a.pfx, b.pfx) AS INTEGER) AS edit_dist
             |FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
             |WHERE levenshtein(a.pfx, b.pfx) <= 8""".stripMargin)),

    // record linkage: blocking on (source, first token) — the textbook
    // blocking-key equi-join — then the codegen'd native Jaro-Winkler
    // expression (graft.functions.JaroWinkler; bit-for-bit DuckDB's
    // jaro_winkler_similarity incl. the 0.7 boost threshold) over 40-char
    // record prefixes, matches at >= 0.82. A skewed block (very common
    // first token) would salt exactly like the scope joins; the blocking
    // key space here is vocabulary-sized.
    // entity resolution END-TO-END (the MDM golden-record shape): blocked
    // Jaro-Winkler linkage pairs → connected components → per-entity
    // SURVIVORSHIP (mode of each attribute, count-desc then value
    // tie-break). Emits one canonical row per multi-member entity.
    Q("entity_canonical",
      (s, dir) => {
        val docs = documents(s, dir)
        // empty records cannot link (and the cross-engine contract needs
        // it: DuckDB's jaro_winkler_similarity('','') is 0, ours is 1)
        val t = graft.ops.Spread.shared(docs
          .filter(length(col("text")) > 0)
          .select(col("doc_id"), col("source"),
            substring(col("text"), 1, 40).as("rec"),
            split(col("text"), " ").getItem(0).as("blk")))
        val a = t.select(col("source").as("__s"), col("blk").as("__b"),
          col("doc_id").as("id_a"), col("rec").as("rec_a"))
        val b = t.select(col("source").as("__s2"), col("blk").as("__b2"),
          col("doc_id").as("id_b"), col("rec").as("rec_b"))
        val pairs = a.join(b, col("__s") === col("__s2") &&
            col("__b") === col("__b2") && col("id_a") < col("id_b"))
          .withColumn("jw",
            graft.functions.JaroWinkler(col("rec_a"), col("rec_b")))
          .filter(col("jw") >= 0.82)
          .select("id_a", "id_b")
        val comp = Dedup.connectedComponents(pairs, docs, "doc_id")
        val m = graft.ops.Spread.shared(
          comp.join(documents(s, dir).select("doc_id", "lang", "source"),
            "doc_id"))
        def mode(c: String, out: String) =
          m.groupBy(col("comp"), col(c)).agg(count(lit(1)).as("__c"))
            .groupBy("comp")
            .agg(min_by(col(c), struct(-col("__c"), col(c))).as(out))
        m.groupBy("comp").agg(count(lit(1)).as("n_members"))
          .filter(col("n_members") >= 2)
          .join(mode("lang", "canon_lang"), "comp")
          .join(mode("source", "canon_source"), "comp")
          .select(col("comp").as("entity_id"), col("n_members"),
            col("canon_lang"), col("canon_source"))
      },
      Some("""WITH RECURSIVE t AS (
             |  SELECT doc_id, source, text[1:40] AS rec,
             |    string_split(text, ' ')[1] AS blk
             |  FROM documents WHERE length(text) > 0),
             |pairs AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM t a JOIN t b ON a.source = b.source AND a.blk = b.blk
             |    AND a.doc_id < b.doc_id
             |  WHERE jaro_winkler_similarity(a.rec, b.rec) >= 0.82),
             |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
             |          UNION ALL SELECT id_b, id_a FROM pairs),
             |walk(id, comp) AS (
             |  SELECT doc_id, doc_id FROM documents
             |  UNION
             |  SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.id),
             |cc AS (SELECT id AS doc_id, min(comp) AS comp FROM walk GROUP BY id),
             |m AS (SELECT cc.comp, d.lang, d.source
             |  FROM cc JOIN documents d USING (doc_id)),
             |sz AS (SELECT comp, CAST(count(*) AS BIGINT) AS n_members
             |  FROM m GROUP BY 1),
             |lc AS (SELECT comp, lang, count(*) AS c FROM m GROUP BY 1, 2),
             |lmode AS (SELECT comp, lang FROM (
             |  SELECT *, row_number() OVER (PARTITION BY comp
             |    ORDER BY c DESC, lang) AS rn FROM lc) WHERE rn = 1),
             |sc2 AS (SELECT comp, source, count(*) AS c FROM m GROUP BY 1, 2),
             |smode AS (SELECT comp, source FROM (
             |  SELECT *, row_number() OVER (PARTITION BY comp
             |    ORDER BY c DESC, source) AS rn FROM sc2) WHERE rn = 1)
             |SELECT sz.comp AS entity_id, sz.n_members,
             |  lmode.lang AS canon_lang, smode.source AS canon_source
             |FROM sz JOIN lmode USING (comp) JOIN smode USING (comp)
             |WHERE sz.n_members >= 2""".stripMargin)),

    Q("record_linkage",
      (s, dir) => {
        // empty records cannot link (jaro_winkler('','') diverges
        // cross-engine: 0 in DuckDB, 1 here)
        val t = graft.ops.Spread.shared(documents(s, dir)
          .filter(length(col("text")) > 0)
          .select(col("doc_id"), col("source"),
            substring(col("text"), 1, 40).as("rec"),
            split(col("text"), " ").getItem(0).as("blk")))
        val a = t.select(col("source").as("__s"), col("blk").as("__b"),
          col("doc_id").as("id_a"), col("rec").as("rec_a"))
        val b = t.select(col("source").as("__s2"), col("blk").as("__b2"),
          col("doc_id").as("id_b"), col("rec").as("rec_b"))
        a.join(b, col("__s") === col("__s2") && col("__b") === col("__b2") &&
            col("id_a") < col("id_b"))
          .withColumn("jw",
            graft.functions.JaroWinkler(col("rec_a"), col("rec_b")))
          .filter(col("jw") >= 0.82)
          .select(col("id_a"), col("id_b"), round(col("jw"), 9).as("jw"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id, source, text[1:40] AS rec,
             |    string_split(text, ' ')[1] AS blk
             |  FROM documents WHERE length(text) > 0)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  round(jaro_winkler_similarity(a.rec, b.rec), 9) AS jw
             |FROM t a JOIN t b ON a.source = b.source AND a.blk = b.blk
             |  AND a.doc_id < b.doc_id
             |WHERE jaro_winkler_similarity(a.rec, b.rec) >= 0.82""".stripMargin)),

    // CCNet/RefinedWeb boilerplate filter: drop EVERY occurrence of any
    // 2-token chunk present in >= 1/32 of all documents (pervasiveness
    // defines boilerplate, so the threshold is a corpus fraction — 1/32 is
    // exactly representable, making the df >= frac*n boundary bit-identical
    // across engines), then reassemble docs from surviving chunks. The hot
    // set is tiny by construction → AQE broadcast anti-join.
    Q("boilerplate_filter",
      (s, dir) => Dedup.boilerplateChunks(documents(s, dir), "doc_id", "text",
        width = 2, maxDfFrac = 1.0 / 32),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> length(x) > 0) AS toks
             |  FROM documents),
             |nd AS (SELECT count(*) AS n FROM documents),
             |ch AS MATERIALIZED (
             |  SELECT doc_id,
             |    unnest(list_transform(generate_series(1, (len(toks) + 1) // 2),
             |      c -> c - 1)) AS chunk_idx,
             |    unnest(list_transform(generate_series(1, (len(toks) + 1) // 2),
             |      c -> array_to_string(toks[(c-1)*2+1 : (c-1)*2+2], ' '))) AS chunk_text
             |  FROM t),
             |hot AS (
             |  SELECT md5(chunk_text) AS dig
             |  FROM ch, nd
             |  GROUP BY 1, nd.n
             |  HAVING CAST(count(DISTINCT doc_id) AS DOUBLE) >=
             |    (1e0/32e0) * CAST(nd.n AS DOUBLE)),
             |kp AS (
             |  SELECT ch.doc_id, ch.chunk_idx, ch.chunk_text
             |  FROM ch LEFT JOIN hot ON md5(ch.chunk_text) = hot.dig
             |  WHERE hot.dig IS NULL),
             |agg AS (
             |  SELECT doc_id, CAST(count(*) AS INT) AS n_kept,
             |    string_agg(chunk_text, ' ' ORDER BY chunk_idx) AS clean_text
             |  FROM kp GROUP BY 1)
             |SELECT t.doc_id, CAST((len(toks) + 1) // 2 AS INT) AS n_chunks,
             |  coalesce(agg.n_kept, 0) AS n_kept,
             |  coalesce(agg.clean_text, '') AS clean_text
             |FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id""".stripMargin)),

    // EXACT Jaccard via prefix filtering (AllPairs, WWW'07): identical
    // result set to dedup_ngram_jaccard — same oracle — but candidates come
    // from an equi-join on each doc's n − ceil(t·n) + 1 globally-RAREST
    // shingles (rarest-first order = packed df·2^24+key bigints, no
    // vocab-wide window). The exact scale path: ubiquitous shingles never
    // enter a prefix, so candidate volume is Σ_rare df² not Σ_scope n².
    Q("dedup_jaccard_prefix",
      (s, dir) => Dedup.jaccardPrefixPairs(documents(s, dir), "doc_id", "text",
        "source", 3, tNum = 4, tDen = 5),
      Some("""WITH pos AS (
             |  SELECT doc_id, source, coalesce(text, '') AS text, unnest(generate_series(1, greatest(length(coalesce(text, ''))-2, 1))) AS i
             |  FROM documents),
             |sh AS (SELECT DISTINCT doc_id, source, substr(text, i, 3) AS sh FROM pos),
             |sz AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
             |inter AS (
             |  SELECT a.doc_id id_a, b.doc_id id_b, count(*) i
             |  FROM sh a JOIN sh b ON a.source = b.source AND a.sh = b.sh
             |    AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |SELECT id_a, id_b,
             |  CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
             |FROM inter
             |JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
             |WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8""".stripMargin)),

    // EXACT asymmetric containment (Broder) via prefix filtering — the
    // overlap-join extension of AllPairs: the smaller set probes with its
    // n − ⌈t·n⌉ + 1 globally-RAREST shingles, the larger side indexes its
    // full set (no size-ratio prune exists for containment), verify =
    // sorted-merge intersect on candidates only. Same result set as the
    // quadratic scoped cross (Registry.referees "dedup_containment";
    // equality proven in ScalePathSpec), same oracle.
    Q("dedup_containment_prefix",
      (s, dir) => Dedup.containmentPrefixPairs(documents(s, dir), "doc_id",
        "text", "source", 3, tNum = 3, tDen = 4),
      Some("""WITH pos AS (
             |  SELECT doc_id, source, coalesce(text, '') AS text,
             |    unnest(generate_series(1, greatest(length(coalesce(text, ''))-2, 1))) AS i
             |  FROM documents),
             |sh AS (SELECT DISTINCT doc_id, source, substr(text, i, 3) AS sh FROM pos),
             |sz AS (SELECT doc_id, CAST(count(*) AS INTEGER) n FROM sh GROUP BY 1),
             |inter AS (
             |  SELECT a.doc_id id_a, b.doc_id id_b, CAST(count(*) AS BIGINT) i
             |  FROM sh a JOIN sh b ON a.source = b.source AND a.sh = b.sh
             |    AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |SELECT id_a, id_b, sa.n AS n_a, sb.n AS n_b, i AS n_shared,
             |  round(CAST(i AS DOUBLE) / least(sa.n, sb.n), 9) AS containment,
             |  CASE WHEN sa.n <= sb.n THEN id_a ELSE id_b END AS contained_id
             |FROM inter
             |JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
             |WHERE i * 4 >= 3 * least(sa.n, sb.n)""".stripMargin)),

    // The LINEAR-OUTPUT form of containment dedup. The pair LIST above is
    // inherently quadratic in duplicate-cluster size — 3-char shingle sets
    // of template-heavy corpora saturate, and the sf0.01 → sf1-scratch
    // result grows 3 175 → 32.4 M pairs for 100× docs — so at corpus scale
    // the useful product is ONE row per CONTAINED doc: its best witness.
    // For a fixed contained doc the containment denominator min(n_a, n_b)
    // is its OWN set size, so argmax over the INTEGER shared count is
    // argmax over containment (no double compares); witness tie-break =
    // min id via max(struct(i, -witness)). The aggregate sits directly on
    // the prefix-filter pair stream and is map-side combinable: the
    // post-verify shuffle carries one partial row per (partition,
    // contained doc), never the pair list.
    Q("dedup_containment_mark",
      (s, dir) => Dedup.containmentMark(documents(s, dir), "doc_id",
        "text", "source", 3, tNum = 3, tDen = 4),
      Some("""WITH pos AS (
             |  SELECT doc_id, source, coalesce(text, '') AS text,
             |    unnest(generate_series(1, greatest(length(coalesce(text, ''))-2, 1))) AS i
             |  FROM documents),
             |sh AS (SELECT DISTINCT doc_id, source, substr(text, i, 3) AS sh FROM pos),
             |sz AS (SELECT doc_id, CAST(count(*) AS INTEGER) n FROM sh GROUP BY 1),
             |inter AS (
             |  SELECT a.doc_id id_a, b.doc_id id_b, CAST(count(*) AS BIGINT) i
             |  FROM sh a JOIN sh b ON a.source = b.source AND a.sh = b.sh
             |    AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |pairs AS (
             |  SELECT id_a, id_b, sa.n AS n_a, sb.n AS n_b, i,
             |    CASE WHEN sa.n <= sb.n THEN id_a ELSE id_b END AS contained_id
             |  FROM inter
             |  JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
             |  WHERE i * 4 >= 3 * least(sa.n, sb.n)),
             |w AS (
             |  SELECT contained_id,
             |    CASE WHEN contained_id = id_a THEN id_b ELSE id_a END AS witness,
             |    least(n_a, n_b) AS n, i,
             |    max(i) OVER (PARTITION BY contained_id) AS mi
             |  FROM pairs)
             |SELECT contained_id, CAST(min(n) AS INTEGER) AS n_shingles,
             |  max(i) AS n_shared,
             |  round(CAST(max(i) AS DOUBLE) / min(n), 9) AS best_containment,
             |  min(CASE WHEN i = mi THEN witness END) AS witness_id
             |FROM w GROUP BY 1""".stripMargin)),

    // BOUNDED-OUTPUT containment with provenance: top-3 witnesses per
    // contained doc ranked by shared count (ties → smallest witness id).
    // The middle ground between the mark (1 row/doc) and the full pair
    // list (quadratic in duplicate-cluster size at corpus scale): ≤ 3
    // rows per contained doc, enough alternates for cluster repair /
    // audit, output linear in corpus size. One shuffle keyed on
    // contained_id over the verified prefix-filter pair stream.
    Q("dedup_containment_topk",
      (s, dir) => Dedup.containmentTopK(documents(s, dir), "doc_id",
        "text", "source", 3, tNum = 3, tDen = 4, topK = 3),
      Some("""WITH pos AS (
             |  SELECT doc_id, source, coalesce(text, '') AS text,
             |    unnest(generate_series(1, greatest(length(coalesce(text, ''))-2, 1))) AS i
             |  FROM documents),
             |sh AS (SELECT DISTINCT doc_id, source, substr(text, i, 3) AS sh FROM pos),
             |sz AS (SELECT doc_id, CAST(count(*) AS INTEGER) n FROM sh GROUP BY 1),
             |inter AS (
             |  SELECT a.doc_id id_a, b.doc_id id_b, CAST(count(*) AS BIGINT) i
             |  FROM sh a JOIN sh b ON a.source = b.source AND a.sh = b.sh
             |    AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |pairs AS (
             |  SELECT id_a, id_b, sa.n AS n_a, sb.n AS n_b, i,
             |    CASE WHEN sa.n <= sb.n THEN id_a ELSE id_b END AS contained_id
             |  FROM inter
             |  JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
             |  WHERE i * 4 >= 3 * least(sa.n, sb.n)),
             |r AS (
             |  SELECT contained_id,
             |    CASE WHEN contained_id = id_a THEN id_b ELSE id_a END AS witness_id,
             |    CAST(least(n_a, n_b) AS INTEGER) AS n_shingles, i AS n_shared,
             |    round(CAST(i AS DOUBLE) / least(n_a, n_b), 9) AS containment,
             |    row_number() OVER (PARTITION BY contained_id ORDER BY i DESC,
             |      CASE WHEN contained_id = id_a THEN id_b ELSE id_a END ASC) AS rk
             |  FROM pairs)
             |SELECT contained_id, witness_id, n_shingles, n_shared,
             |  containment, CAST(rk AS INTEGER) AS rank
             |FROM r WHERE rk <= 3""".stripMargin)),

    Q("dedup_minhash_lsh",
      (s, dir) => Dedup.minhashLshPairs(documents(s, dir), "doc_id", "text",
        numHashes = 16, bands = 2, estThreshold = 0.7),
      Some(s"""WITH ${minhashEstCtes()}
             |SELECT id_a, id_b, est_jaccard FROM est WHERE est_jaccard >= 0.7""".stripMargin)),

    // sketch-vs-truth evaluation: precision/recall of the banded MinHash
    // candidates (est >= 0.7) against the exact shingle-Jaccard truth at
    // the same threshold — the one-row eval that justifies replacing the
    // O(n²) exact pass with LSH. Both sides run on a FIXED-SIZE
    // deterministic sample (every 10th doc_id below 5000 → ≤500 docs at any
    // corpus size): the truth side is the exact all-pairs baseline, so a
    // proportional slice would still be O(n²) at 100 TB — the id-range cap
    // makes the eval cost a constant independent of corpus growth
    Q("lsh_quality",
      (s, dir) => Dedup.lshQuality(documents(s, dir), "doc_id", "text",
        numHashes = 16, bands = 2, threshold = 0.7,
        evalSlice = col("doc_id") % 10 === 0 && col("doc_id") < 5000),
      Some(s"""WITH docs5 AS (SELECT * FROM documents WHERE doc_id % 10 = 0 AND doc_id < 5000),
             |${minhashEstCtes("docs5")},
             |lp AS (SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.7),
             |tpos AS (SELECT doc_id, coalesce(text, '') AS t,
             |    unnest(generate_series(1, greatest(length(coalesce(text, ''))-2, 1))) AS i
             |  FROM docs5),
             |tsh AS (SELECT DISTINCT doc_id, substr(t, i, 3) AS sh FROM tpos),
             |tsz AS (SELECT doc_id, count(*) n FROM tsh GROUP BY 1),
             |tint AS (
             |  SELECT a.doc_id id_a, b.doc_id id_b, count(*) i
             |  FROM tsh a JOIN tsh b ON a.sh = b.sh AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |tp AS (
             |  SELECT id_a, id_b FROM tint
             |  JOIN tsz sa ON id_a = sa.doc_id JOIN tsz sb ON id_b = sb.doc_id
             |  WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.7),
             |hit AS (SELECT count(*) c FROM lp JOIN tp
             |  ON lp.id_a = tp.id_a AND lp.id_b = tp.id_b)
             |SELECT (SELECT count(*) FROM tp) AS n_true,
             |  (SELECT count(*) FROM lp) AS n_lsh,
             |  CAST(hit.c AS BIGINT) AS n_hit,
             |  round(hit.c / nullif((SELECT count(*) FROM lp), 0), 9) AS precision,
             |  round(hit.c / nullif((SELECT count(*) FROM tp), 0), 9) AS recall
             |FROM hit""".stripMargin)),

    // the simhash sibling of lsh_quality: precision/recall of the
    // hamming<=2 sketch pairs vs the exact Jaccard>=0.8 truth on the SAME
    // fixed-size deterministic sample — every approximate near-dup path
    // ships with its measured quality against exact truth.
    Q("simhash_quality",
      (s, dir) => Dedup.simhashQuality(documents(s, dir), "doc_id", "text",
        numBits = 16, maxDist = 2, threshold = 0.8,
        evalSlice = col("doc_id") % 10 === 0 && col("doc_id") < 5000),
      Some(s"""WITH d AS (SELECT * FROM documents
             |    WHERE doc_id % 10 = 0 AND doc_id < 5000),
             |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
             |  FROM d),
             |tx AS (
             |  SELECT doc_id,
             |    CAST(coalesce(ascii(substr(tok,1,1)), 0) AS BIGINT)*16777216
             |    + CAST(coalesce(ascii(substr(tok,2,1)), 0) AS BIGINT)*65536
             |    + coalesce(ascii(substr(tok,3,1)), 0)*256
             |    + coalesce(ascii(substr(tok,4,1)), 0) AS x
             |  FROM toks WHERE length(tok) > 0),
             |bits AS (
             |  SELECT doc_id, hp.j,
             |    sum(CAST(((CAST(hp.a AS HUGEINT) * x + hp.b) % 2147483647 % 2) * 2 - 1 AS BIGINT)) AS s
             |  FROM tx, ${hpSql(16, "j, a, b")}
             |  GROUP BY doc_id, hp.j),
             |sig AS (
             |  SELECT doc_id,
             |    sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS simhash
             |  FROM bits GROUP BY doc_id),
             |sp AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
             |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 2),
             |pos AS (SELECT doc_id, coalesce(text, '') AS text,
             |    unnest(generate_series(1, greatest(length(coalesce(text, ''))-2, 1))) AS i
             |  FROM d),
             |sh AS (SELECT DISTINCT doc_id, substr(text, i, 3) AS sh FROM pos),
             |tsz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
             |tint AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
             |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |tp AS (
             |  SELECT id_a, id_b FROM tint
             |  JOIN tsz sa ON id_a = sa.doc_id JOIN tsz sb ON id_b = sb.doc_id
             |  WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8),
             |hit AS (SELECT count(*) AS c FROM sp JOIN tp
             |  ON sp.id_a = tp.id_a AND sp.id_b = tp.id_b)
             |SELECT (SELECT count(*) FROM tp) AS n_true,
             |  (SELECT count(*) FROM sp) AS n_sim,
             |  CAST(hit.c AS BIGINT) AS n_hit,
             |  round(hit.c / nullif((SELECT count(*) FROM sp), 0), 9) AS precision,
             |  round(hit.c / nullif((SELECT count(*) FROM tp), 0), 9) AS recall
             |FROM hit""".stripMargin)),

    // incremental LSH: the doc_id % 5 == 0 slice plays the newly-ingested
    // batch; only pairs touching it are generated — the index side is
    // never paired against itself
    Q("dedup_incremental",
      (s, dir) => Dedup.minhashLshIncremental(documents(s, dir), "doc_id",
        "text", numHashes = 16, bands = 2, estThreshold = 0.7,
        newPred = col("doc_id") % 5 === 0),
      Some(s"""WITH pos AS (
             |  SELECT doc_id, text, unnest(generate_series(1, greatest(length(text)-2, 1))) AS i
             |  FROM documents),
             |sh AS (SELECT DISTINCT doc_id, substr(text, i, 3) AS sh FROM pos),
             |shx AS (SELECT doc_id,
             |    CAST(ascii(substr(sh,1,1)) AS BIGINT)*65536 + ascii(substr(sh,2,1))*256 + ascii(substr(sh,3,1)) AS x
             |  FROM sh),
             |sig AS MATERIALIZED (
             |  SELECT doc_id, hp.i, min(CAST((CAST(hp.a AS HUGEINT) * x + hp.b) % 2147483647 AS BIGINT)) AS minhash
             |  FROM shx, ${hpSql(16, "i, a, b")}
             |  GROUP BY doc_id, hp.i),
             |bandkey AS MATERIALIZED (
             |  SELECT doc_id, i // 8 AS band,
             |    string_agg(minhash, ',' ORDER BY i) AS key
             |  FROM sig GROUP BY doc_id, i // 8),
             |cand AS (
             |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
             |    greatest(a.doc_id, b.doc_id) AS id_b
             |  FROM bandkey a JOIN bandkey b
             |    ON a.band = b.band AND a.key = b.key AND a.doc_id <> b.doc_id
             |  WHERE a.doc_id % 5 = 0),
             |est AS (
             |  SELECT id_a, id_b,
             |    sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) / 16.0 AS est_jaccard
             |  FROM cand
             |  JOIN sig sa ON sa.doc_id = id_a
             |  JOIN sig sb ON sb.doc_id = id_b AND sb.i = sa.i
             |  GROUP BY 1, 2)
             |SELECT id_a, id_b, est_jaccard FROM est WHERE est_jaccard >= 0.7""".stripMargin)),

    Q("dedup_simhash",
      (s, dir) => Dedup.simhashPairs(documents(s, dir), "doc_id", "text",
        "source", numBits = 16, maxDist = 2),
      Some(s"""WITH $simhashPairCtes
             |SELECT id_a, id_b, hamming FROM spairs""".stripMargin)),

    // winnowing fingerprint selection (MOSS): per-doc sliding window of 4
    // trigram hashes, keep the min (rightmost tie via packed reversed-pos
    // key) — substring-level local fingerprints, one partitioned window
    // pass + distinct, no self-join.
    Q("dedup_winnow",
      (s, dir) => Dedup.winnowFingerprints(documents(s, dir), "doc_id", "text",
        n = 3, w = 4),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> length(x) > 0) AS toks
             |  FROM documents),
             |g AS (
             |  SELECT doc_id,
             |    unnest(list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
             |      i -> i - 1)) AS pos,
             |    unnest(list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
             |      i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS ngram
             |  FROM t),
             |h AS (
             |  SELECT doc_id, pos,
             |    CAST(('0x' || substr(md5(ngram), 1, 8)) AS BIGINT) AS hh,
             |    count(*) OVER (PARTITION BY doc_id) AS n
             |  FROM g),
             |e AS (
             |  SELECT doc_id, pos, n,
             |    min(hh * 1048576 + (1048575 - pos)) OVER (
             |      PARTITION BY doc_id ORDER BY pos
             |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
             |  FROM h)
             |SELECT DISTINCT doc_id,
             |  CAST(1048575 - (m % 1048576) AS BIGINT) AS fp_pos,
             |  CAST(m // 1048576 AS BIGINT) AS fp_hash
             |FROM e WHERE pos <= n - 4""".stripMargin)),

    // HyperLogLog distinct-count per source (p=10), built from portable
    // md5/integer register arithmetic — the harmonic sum is an INTEGER
    // Σ 2^(51−M_j), so the estimate is bit-identical across engines and
    // exactly oracle-checked (impossible with approx_count_distinct's
    // engine-private HLL++ registers). n_true rides along for accuracy.
    Q("sketch_hll",
      (s, dir) => graft.ops.Sketches.hllDistinct(
        documents(s, dir).select(col("source"),
          explode(TA.tokens(col("text"))).as("tok")), "source", "tok"),
      Some {
        val alpha = graft.ops.Sketches.HllAlpha *
          graft.ops.Sketches.HllM * graft.ops.Sketches.HllM
        val raw = s"${alpha}e0 * 2251799813685248.0e0 / CAST(s + CAST(1024 - v AS BIGINT) * CAST(2251799813685248 AS BIGINT) AS DOUBLE)"
        s"""WITH tok AS (
           |  SELECT source, unnest(list_filter(string_split(text, ' '),
           |    x -> length(x) > 0)) AS t
           |  FROM documents),
           |k AS (SELECT DISTINCT source, t FROM tok),
           |h AS (
           |  SELECT source,
           |    CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h
           |  FROM k),
           |r AS (
           |  SELECT source, h % 1024 AS b,
           |    CASE WHEN h // 1024 = 0 THEN 51
           |         ELSE bit_count(((h // 1024) & -(h // 1024)) - 1) + 1 END AS rho
           |  FROM h),
           |regs AS (SELECT source, b, max(rho) AS m, count(*) AS nk
           |         FROM r GROUP BY 1, 2),
           |g AS (
           |  SELECT source,
           |    CAST(sum(CAST(1 AS BIGINT) << (51 - m)) AS BIGINT) AS s,
           |    count(*) AS v, CAST(sum(nk) AS BIGINT) AS n_true
           |  FROM regs GROUP BY source)
           |SELECT source, n_true, CAST(1024 - v AS BIGINT) AS n_empty,
           |  round($raw, 9) AS est_raw,
           |  round(CASE WHEN $raw <= 2560.0 AND v < 1024
           |        THEN 1024.0 * ln(1024.0 / CAST(1024 - v AS DOUBLE))
           |        ELSE $raw END, 9) AS est
           |FROM g""".stripMargin
      }),

    // order-free dataset content fingerprint — the "did anything change"
    // version stamp for pipeline caching/reproducibility: per table, the
    // DECIMAL sum of 60-bit row hashes + row count. Every field is
    // canonicalized to an engine-exact string BEFORE hashing (r9, after a
    // driver-parquet-only hash mismatch that never reproduced locally):
    //  * NULL -> chr(2)||'NULL' coalesce sentinel on BOTH sides, so no
    //    engine concat/NULL rule is load-bearing and every row contributes
    //    to the sum (previously NULL rows dropped out of the sum);
    //  * the double `value` -> floor(value*100 + 0.5) rendered as integer
    //    text: *, + and floor are IEEE-754-exact operations, so both
    //    engines agree to the bit — unlike round() or double->DECIMAL
    //    casts, whose half-way/shortest-repr rules are engine-specific;
    //    NaN, +-Inf and |v| >= 9e16 (BIGINT overflow: DuckDB errors where
    //    Spark clamps) get literal sentinels on both sides.
    // Commutative DECIMAL sum => same fingerprint from any
    // partitioning/order/engine. Verify prints this query's rows (and the
    // per-field breakdown below) so a driver-side mismatch pinpoints the
    // diverging table+field. Canonicalizers live in Fp (QueryDef.scala).
    Q("dataset_fingerprint",
      (s, dir) => {
        val d = documents(s, dir)
        val e = events(s, dir)
        Fp.tableFp(d, "documents", Fp.docFields)
          .unionByName(Fp.tableFp(e, "events", Fp.eventFields))
      },
      Some(s"""WITH d AS (
             |  SELECT CAST(('0x' || substr(md5(
             |      ${Fp.docFieldsSql.map(_._2).mkString(" || chr(1) ||\n      ")}), 1, 15)) AS BIGINT) AS h
             |  FROM documents),
             |e AS (
             |  SELECT CAST(('0x' || substr(md5(
             |      ${Fp.eventFieldsSql.map(_._2).mkString(" || chr(1) ||\n      ")}), 1, 15)) AS BIGINT) AS h
             |  FROM events)
             |SELECT 'documents' AS table_name,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  ${Fp.modFpSql("sum(CAST(h AS DECIMAL(38,0)))")} AS fingerprint
             |FROM d
             |UNION ALL
             |SELECT 'events', CAST(count(*) AS BIGINT),
             |  ${Fp.modFpSql("sum(CAST(h AS DECIMAL(38,0)))")}
             |FROM e""".stripMargin)),

    // per-field fingerprint breakdown — instrumentation for the row above:
    // one row per (table, field) with the field's own canonical hash sum.
    // If dataset_fingerprint ever diverges cross-engine again, this
    // query's result (also printed by Verify) names the exact table+field
    // that disagrees instead of one opaque 2-row hash.
    Q("dataset_fingerprint_fields",
      (s, dir) => {
        val d = documents(s, dir)
        val e = events(s, dir)
        Fp.fieldFp(d, "documents", Fp.docFields)
          .unionByName(Fp.fieldFp(e, "events", Fp.eventFields))
      },
      Some {
        def branch(table: String, f: (String, String)): String =
          s"""SELECT '$table' AS table_name, '${f._1}' AS field_name,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  ${Fp.modFpSql("sum(CAST(CAST(('0x' || substr(md5(" + f._2 + "), 1, 15)) AS BIGINT) AS DECIMAL(38,0)))")} AS fingerprint
             |FROM $table""".stripMargin
        (Fp.docFieldsSql.map(branch("documents", _)) ++
          Fp.eventFieldsSql.map(branch("events", _)))
          .mkString("\nUNION ALL\n")
      }),

    // per-column table profile (deequ/TFDV shape): rows, nulls, exact
    // distinct + the mergeable HLL estimate side by side, lexicographic
    // min/max — one stack unpivot, one aggregation, register-bounded
    // state. Integer/string columns only (engine-stable string forms).
    Q("table_profile",
      (s, dir) => graft.ops.Profile.tableProfile(documents(s, dir),
        Seq("doc_id", "text", "lang", "source", "n_chars")),
      Some {
        val alpha = graft.ops.Sketches.HllAlpha *
          graft.ops.Sketches.HllM * graft.ops.Sketches.HllM
        val raw = s"${alpha}e0 * 2251799813685248.0e0 / CAST(s + CAST(1024 - v AS BIGINT) * CAST(2251799813685248 AS BIGINT) AS DOUBLE)"
        s"""WITH long AS (
           |  SELECT 'doc_id' AS col_name, CAST(doc_id AS VARCHAR) AS val FROM documents
           |  UNION ALL SELECT 'text', text FROM documents
           |  UNION ALL SELECT 'lang', lang FROM documents
           |  UNION ALL SELECT 'source', source FROM documents
           |  UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR) FROM documents),
           |base AS (
           |  SELECT col_name, CAST(count(*) AS BIGINT) AS n_rows,
           |    CAST(count(*) - count(val) AS BIGINT) AS n_null,
           |    min(val) AS min_val, max(val) AS max_val
           |  FROM long GROUP BY 1),
           |k AS (SELECT DISTINCT col_name, val FROM long WHERE val IS NOT NULL),
           |h AS (SELECT col_name,
           |    CAST(('0x' || substr(md5(val), 1, 15)) AS BIGINT) AS h
           |  FROM k),
           |r AS (SELECT col_name, h % 1024 AS b,
           |    CASE WHEN h // 1024 = 0 THEN 51
           |         ELSE bit_count(((h // 1024) & -(h // 1024)) - 1) + 1 END AS rho
           |  FROM h),
           |regs AS (SELECT col_name, b, max(rho) AS m, count(*) AS nk
           |         FROM r GROUP BY 1, 2),
           |g AS (SELECT col_name,
           |    CAST(sum(CAST(1 AS BIGINT) << (51 - m)) AS BIGINT) AS s,
           |    count(*) AS v, CAST(sum(nk) AS BIGINT) AS n_true
           |  FROM regs GROUP BY 1)
           |SELECT base.col_name, base.n_rows, base.n_null,
           |  coalesce(g.n_true, 0) AS n_distinct,
           |  coalesce(round(CASE WHEN $raw <= 2560.0 AND v < 1024
           |        THEN 1024.0 * ln(1024.0 / CAST(1024 - v AS DOUBLE))
           |        ELSE $raw END, 9), 0.0) AS distinct_est,
           |  base.min_val, base.max_val
           |FROM base LEFT JOIN g USING (col_name)""".stripMargin
      }),

    // chi-square test of independence over the lang × source contingency
    // (the categorical companion to the numeric drift stats) + Cramér's V
    // effect size. The FULL grid matters (absent cells have O = 0 but
    // E > 0): langs × sources cross, left-joined counts. Each term is one
    // fixed-order double expression ((O·N − rt·ct)² can pass 2^63, so the
    // numerator is double by design), round-9 DECIMAL-summed.
    Q("chi2_independence",
      (s, dir) => {
        val d = documents(s, dir)
        val o = d.groupBy("lang", "source").agg(count(lit(1)).as("__o"))
        val rt = d.groupBy("lang").agg(count(lit(1)).as("__rt"))
        val ct = d.groupBy("source").agg(count(lit(1)).as("__ct"))
        val n = d.agg(count(lit(1)).as("__n"))
        val grid = rt.crossJoin(ct).crossJoin(broadcast(n))
          .join(o, Seq("lang", "source"), "left")
          .withColumn("__oo", coalesce(col("__o"), lit(0L)))
        val num = col("__oo").cast("double") * col("__n").cast("double") -
          col("__rt").cast("double") * col("__ct").cast("double")
        val term = num * num / (col("__n").cast("double") *
          col("__rt").cast("double") * col("__ct").cast("double"))
        grid
          .withColumn("__t", round(term, 9).cast("decimal(24,9)"))
          .agg(max("__n").as("n_rows"),
            countDistinct("lang").as("n_langs"),
            countDistinct("source").as("n_sources"),
            sum("__t").cast("double").as("chi2"))
          .withColumn("dof", (col("n_langs") - 1) * (col("n_sources") - 1))
          .withColumn("cramers_v", round(sqrt(col("chi2") /
            (col("n_rows").cast("double") *
              least(col("n_langs") - 1, col("n_sources") - 1).cast("double"))), 9))
          .select(col("n_rows"), col("n_langs"), col("n_sources"), col("dof"),
            round(col("chi2"), 6).as("chi2"), col("cramers_v"))
      },
      Some("""WITH o AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS o
             |  FROM documents GROUP BY 1, 2),
             |rt AS (SELECT lang, CAST(count(*) AS BIGINT) AS rt
             |  FROM documents GROUP BY 1),
             |ct AS (SELECT source, CAST(count(*) AS BIGINT) AS ct
             |  FROM documents GROUP BY 1),
             |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
             |grid AS (SELECT rt.lang, ct.source, rt.rt, ct.ct, nn.n,
             |    coalesce(o.o, 0) AS oo
             |  FROM rt CROSS JOIN ct CROSS JOIN nn
             |  LEFT JOIN o ON o.lang = rt.lang AND o.source = ct.source),
             |t AS (SELECT n, lang, source,
             |    CAST(round(
             |      (CAST(oo AS DOUBLE)*CAST(n AS DOUBLE)
             |        - CAST(rt AS DOUBLE)*CAST(ct AS DOUBLE))
             |      * (CAST(oo AS DOUBLE)*CAST(n AS DOUBLE)
             |        - CAST(rt AS DOUBLE)*CAST(ct AS DOUBLE))
             |      / (CAST(n AS DOUBLE)*CAST(rt AS DOUBLE)*CAST(ct AS DOUBLE)),
             |      9) AS DECIMAL(24,9)) AS t
             |  FROM grid)
             |SELECT max(n) AS n_rows,
             |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
             |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
             |  (count(DISTINCT lang) - 1) * (count(DISTINCT source) - 1) AS dof,
             |  round(CAST(sum(t) AS DOUBLE), 6) AS chi2,
             |  round(sqrt(CAST(sum(t) AS DOUBLE)
             |    / (CAST(max(n) AS DOUBLE)
             |      * CAST(least(count(DISTINCT lang) - 1,
             |          count(DISTINCT source) - 1) AS DOUBLE))), 9) AS cramers_v
             |FROM t""".stripMargin)),

    // split-conformal prediction interval around the n_tokens → n_chars
    // linear fit: q = ceil((n_cal+1)·0.9)-th smallest calibration
    // |residual|, empirical coverage reported on the held-out test split
    // (distribution-free ≥ 90% guarantee). Integer OLS sums, round-9
    // residuals, sorted-array quantile over the FIXED-size calibration
    // sample (bounded-eval rule).
    Q("conformal_interval",
      (s, dir) => graft.ops.Drift.conformalInterval(
        documents(s, dir).withColumn("n_tokens",
          size(TA.tokens(col("text"))).cast("long")),
        "n_tokens", "n_chars",
        col("doc_id") % 4 === 0,
        col("doc_id") % 4 === 1 && col("doc_id") < 20000,
        col("doc_id") % 4 === 2),
      Some("""WITH d AS (
             |  SELECT doc_id,
             |    CAST(len(list_filter(string_split(text, ' '),
             |      t -> length(t) > 0)) AS BIGINT) AS x,
             |    n_chars AS y
             |  FROM documents),
             |tr AS (SELECT CAST(count(*) AS BIGINT) AS n_train,
             |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             |    CAST(sum(x*x) AS BIGINT) AS sxx,
             |    CAST(sum(x*y) AS BIGINT) AS sxy
             |  FROM d WHERE doc_id % 4 = 0),
             |ft AS (SELECT n_train, sx, sy,
             |    round(CAST(n_train*sxy - sx*sy AS DOUBLE)
             |      / CAST(n_train*sxx - sx*sx AS DOUBLE), 9) AS slope
             |  FROM tr),
             |ft2 AS (SELECT n_train, slope,
             |    round((CAST(sy AS DOUBLE) - slope*CAST(sx AS DOUBLE))
             |      / CAST(n_train AS DOUBLE), 9) AS intercept
             |  FROM ft),
             |res AS (SELECT d.doc_id,
             |    round(abs(CAST(y AS DOUBLE)
             |      - (intercept + slope*CAST(x AS DOUBLE))), 9) AS r
             |  FROM d, ft2),
             |calq AS (SELECT CAST(count(*) AS BIGINT) AS n_cal,
             |    (list_sort(list(r)))[least(
             |      CAST(((count(*)+1)*9 + 9)//10 AS INT),
             |      CAST(count(*) AS INT))] AS q
             |  FROM res WHERE doc_id % 4 = 1 AND doc_id < 20000)
             |SELECT ft2.n_train, calq.n_cal,
             |  CAST(count(*) AS BIGINT) AS n_test,
             |  ft2.slope, ft2.intercept, calq.q,
             |  round(CAST(sum(CASE WHEN r <= q THEN 1 ELSE 0 END) AS DOUBLE)
             |    / count(*), 9) AS coverage
             |FROM res, ft2, calq
             |WHERE res.doc_id % 4 = 2
             |GROUP BY 1, 2, 4, 5, 6""".stripMargin)),

    // WebDataset tar-shard export PLAN (the tar bytes themselves are
    // gated byte-level in TarShardsSpec incl. system-tar compat):
    // offset-bucket packing off the ranged running byte total — shard =
    // start-offset div budget, a pure function of the global prefix sum.
    Q("webdataset_shards",
      (s, dir) => graft.io.TarShards.buildShards(
          documents(s, dir).select(
            expr("lpad(CAST(doc_id AS STRING), 8, '0')").as("k"),
            col("text").cast("binary").as("txt")),
          "k", Seq("txt" -> "txt"), maxShardBytes = 262144L)
        .select("shard_id", "n_samples", "n_bytes"),
      Some("""WITH t AS (
             |  SELECT lpad(CAST(doc_id AS VARCHAR), 8, '0') AS k,
             |    CAST(octet_length(encode(text)) AS BIGINT) AS sz
             |  FROM documents),
             |r AS (SELECT k, sz, sum(sz) OVER (ORDER BY k) AS run FROM t)
             |SELECT CAST((run - sz) // 262144 AS BIGINT) AS shard_id,
             |  CAST(count(*) AS BIGINT) AS n_samples,
             |  CAST(sum(sz) AS BIGINT) AS n_bytes
             |FROM r GROUP BY 1""".stripMargin)),

    // TextRank keyphrases (Mihalcea & Tarau 2004): integer PageRank over
    // the adjacent-word co-occurrence graph (directed pair count ≥ 5,
    // canonicalized undirected, hash word ids — no vocab-wide dense-id
    // window), top-20 words by rank. Composes the graph machinery the
    // dedup stack already gates; same unrolled-iteration oracle.
    Q("keyphrase_rank",
      (s, dir) => {
        // adjacent pairs exploded as STRUCTS via the single-byte-walk
        // codegen kernel (AdjacentWordPairs; the interpreted
        // transform/element_at form was the per-row cost), uncached — one
        // consumer (the pair-count aggregation), so a persist would only
        // materialize a corpus-sized pair relation
        val toks =
          graft.ops.Spread.byKey(documents(s, dir), col("doc_id"))
            .select(explode(
              graft.functions.AdjacentWordPairs(col("text"))).as("p"))
            .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
            .filter(col("w1") =!= col("w2"))
        val dp = toks.groupBy("w1", "w2").agg(count(lit(1)).as("__c"))
          .filter(col("__c") >= 5)
        val ids = dp
          .withColumn("__h1", graft.ops.Sketches.hash60(col("w1")))
          .withColumn("__h2", graft.ops.Sketches.hash60(col("w2")))
        val edges = ids.select(least(col("__h1"), col("__h2")).as("id_a"),
            greatest(col("__h1"), col("__h2")).as("id_b")).distinct()
        val nodes = edges.select(explode(array(col("id_a"), col("id_b")))
          .as("wid")).distinct()
        val pr = Dedup.pageRank(edges, nodes, "wid", iters = 3)
        val dict = ids.select(col("w1").as("word"), col("__h1").as("wid"))
          .unionByName(ids.select(col("w2").as("word"), col("__h2").as("wid")))
          .distinct()
        dict.join(pr, "wid")
          .select(col("word"), col("rank_micro"))
          .orderBy(col("rank_micro").desc, col("word"))
          .limit(20)
      },
      Some("""WITH tk AS (
             |  SELECT doc_id, list_filter(string_split(text, ' '),
             |    x -> length(x) > 0) AS toks
             |  FROM documents),
             |bgc AS (SELECT unnest(list_transform(
             |    generate_series(1, len(toks) - 1),
             |    i -> toks[i] || ' ' || toks[i + 1])) AS bg
             |  FROM tk WHERE len(toks) >= 2),
             |dp AS (SELECT string_split(bg, ' ')[1] AS w1,
             |    string_split(bg, ' ')[2] AS w2, count(*) AS c
             |  FROM bgc GROUP BY 1, 2 HAVING count(*) >= 5),
             |dp2 AS (SELECT * FROM dp WHERE w1 <> w2),
             |ids AS (SELECT w1, w2,
             |    CAST(('0x' || substr(md5(w1), 1, 15)) AS BIGINT) AS h1,
             |    CAST(('0x' || substr(md5(w2), 1, 15)) AS BIGINT) AS h2
             |  FROM dp2),
             |ed AS (SELECT DISTINCT least(h1, h2) AS src0,
             |    greatest(h1, h2) AS dst0 FROM ids),
             |edges AS (SELECT src0 AS src, dst0 AS dst FROM ed
             |          UNION ALL SELECT dst0, src0 FROM ed),
             |nodes AS (SELECT DISTINCT src AS id FROM edges),
             |deg AS (SELECT src, count(*) AS d FROM edges GROUP BY 1),
             |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes),
             |r1 AS (SELECT r0.id, CAST(150000 + (85 * coalesce(s.t, 0)) // 100 AS BIGINT) AS r
             |  FROM r0 LEFT JOIN (
             |    SELECT e.dst AS id, sum(r0.r // deg.d) AS t
             |    FROM edges e JOIN r0 ON r0.id = e.src
             |      JOIN deg ON deg.src = e.src GROUP BY 1) s ON s.id = r0.id),
             |r2 AS (SELECT r1.id, CAST(150000 + (85 * coalesce(s.t, 0)) // 100 AS BIGINT) AS r
             |  FROM r1 LEFT JOIN (
             |    SELECT e.dst AS id, sum(r1.r // deg.d) AS t
             |    FROM edges e JOIN r1 ON r1.id = e.src
             |      JOIN deg ON deg.src = e.src GROUP BY 1) s ON s.id = r1.id),
             |r3 AS (SELECT r2.id, CAST(150000 + (85 * coalesce(s.t, 0)) // 100 AS BIGINT) AS r
             |  FROM r2 LEFT JOIN (
             |    SELECT e.dst AS id, sum(r2.r // deg.d) AS t
             |    FROM edges e JOIN r2 ON r2.id = e.src
             |      JOIN deg ON deg.src = e.src GROUP BY 1) s ON s.id = r2.id),
             |dict AS (SELECT DISTINCT w, CAST(('0x' || substr(md5(w), 1, 15))
             |    AS BIGINT) AS id
             |  FROM (SELECT w1 AS w FROM dp2 UNION SELECT w2 FROM dp2))
             |SELECT d.w AS word, r3.r AS rank_micro
             |FROM dict d JOIN r3 ON r3.id = d.id
             |ORDER BY r3.r DESC, d.w LIMIT 20""".stripMargin)),

    // top collocations by PMI (Church & Hanks): adjacent word pairs
    // co-occurring far above chance — the phrase-detection statistic.
    // Exact integer counts; the ratio is evaluated in ONE fixed
    // expression-tree order before a single ln + round-9, so the doubles
    // are bit-identical. TakeOrdered top-50 with (pmi, pair) tie-break.
    Q("pmi_collocations",
      (s, dir) => TA.pmiCollocations(documents(s, dir), "doc_id", "text",
        minCount = 5, topK = 50),
      Some("""WITH tk AS (
             |  SELECT doc_id, list_filter(string_split(text, ' '),
             |    x -> length(x) > 0) AS toks
             |  FROM documents),
             |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS cw
             |  FROM (SELECT unnest(toks) AS w FROM tk) GROUP BY 1),
             |tot AS (SELECT CAST(sum(cw) AS BIGINT) AS nu FROM uni),
             |nbt AS (SELECT CAST(sum(greatest(len(toks) - 1, 0)) AS BIGINT)
             |  AS nb FROM tk),
             |bgc AS (SELECT unnest(list_transform(
             |    generate_series(1, len(toks) - 1),
             |    i -> toks[i] || ' ' || toks[i + 1])) AS bg
             |  FROM tk WHERE len(toks) >= 2),
             |bi AS (SELECT bg, CAST(count(*) AS BIGINT) AS n_xy
             |  FROM bgc GROUP BY 1 HAVING count(*) >= 5),
             |sp AS (SELECT n_xy, string_split(bg, ' ')[1] AS word_x,
             |    string_split(bg, ' ')[2] AS word_y FROM bi)
             |SELECT word_x, word_y, n_xy, ux.cw AS n_x, uy.cw AS n_y,
             |  round(ln((CAST(n_xy AS DOUBLE) * CAST(nu AS DOUBLE)
             |      * CAST(nu AS DOUBLE))
             |    / (CAST(nb AS DOUBLE) * CAST(ux.cw AS DOUBLE)
             |      * CAST(uy.cw AS DOUBLE))), 9) AS pmi
             |FROM sp JOIN uni ux ON ux.w = sp.word_x
             |JOIN uni uy ON uy.w = sp.word_y, tot, nbt
             |ORDER BY pmi DESC, word_x, word_y LIMIT 50""".stripMargin)),

    // join-key skew profile — the measurement that justifies (or spares)
    // Spread.saltedJoin: per-key frequency percentiles via the bounded
    // frequency-of-frequencies histogram, heaviest-key share in integer
    // millionths, and the implied salt factor ceil(max/mean). All integer.
    Q("key_skew_profile",
      (s, dir) => graft.ops.Profile.keySkewProfile(events(s, dir), "user_id"),
      Some("""WITH f AS (SELECT user_id, CAST(count(*) AS BIGINT) AS c
             |  FROM events GROUP BY 1),
             |h AS (SELECT c, CAST(count(*) AS BIGINT) AS nk FROM f GROUP BY 1),
             |cu AS (SELECT c, nk,
             |    sum(nk) OVER (ORDER BY c) AS cum, sum(nk) OVER () AS tot
             |  FROM h)
             |SELECT 'user_id' AS key_name,
             |  CAST(sum(c*nk) AS BIGINT) AS n_rows,
             |  CAST(sum(nk) AS BIGINT) AS n_keys,
             |  CAST(max(c) AS BIGINT) AS max_freq,
             |  CAST(min(CASE WHEN 2*cum >= tot THEN c END) AS BIGINT) AS p50_freq,
             |  CAST(min(CASE WHEN 100*cum >= 99*tot THEN c END) AS BIGINT)
             |    AS p99_freq,
             |  (CAST(max(c) AS BIGINT) * 1000000) // CAST(sum(c*nk) AS BIGINT)
             |    AS top1_millionths,
             |  (CAST(max(c) AS BIGINT) * CAST(sum(nk) AS BIGINT)
             |   + CAST(sum(c*nk) AS BIGINT) - 1) // CAST(sum(c*nk) AS BIGINT)
             |    AS salt_factor
             |FROM cu""".stripMargin)),

    // rolling 7-day active users from MERGED per-day HLL registers — the
    // flagship mergeability payoff: the expensive distinct-user pass runs
    // once per day, every trailing window is a bounded register-table
    // max-merge (≤ 7×1024 rows per day), and the exact rolling distinct
    // rides along as the eval truth.
    Q("rolling_wau",
      (s, dir) => {
        val ev = events(s, dir)
          .select(expr("ts div 86400000000000").as("day"), col("user_id"))
        val regs = graft.ops.Spread.shared(
          graft.ops.Sketches.hllRegisters(ev, "day", "user_id"))
        val days = regs.select(col("__g").as("d")).distinct()
        // trailing-window membership as an EXPLODE (each register/user row
        // contributes to days g..g+6) + an equi semi-join against observed
        // days — the band join planned as a broadcast nested loop; this is
        // a projection + hash join, 7× rows instead of days×regs probes
        val merged = regs
          .select(explode(expr("sequence(__g, __g + 6)")).as("d"),
            col("__b"), col("__m"))
          .join(days, "d")
          .groupBy(col("d"), col("__b")).agg(max("__m").as("__m"))
        val est = graft.ops.Sketches.hllEstimate(
          merged.withColumnRenamed("d", "__g"), "day")
        val du = graft.ops.Spread.shared(ev.distinct())
        val truth = du
          .select(explode(expr("sequence(day, day + 6)")).as("d"),
            col("user_id"))
          .join(days, "d")
          .groupBy("d").agg(countDistinct("user_id").as("true_wau"))
        est.drop("n_true")
          .join(truth, est("day") === truth("d"))
          .select(col("day"), col("true_wau"), col("n_empty"),
            col("est_raw"), col("est"))
      },
      Some {
        val alpha = graft.ops.Sketches.HllAlpha *
          graft.ops.Sketches.HllM * graft.ops.Sketches.HllM
        val raw = s"${alpha}e0 * 2251799813685248.0e0 / CAST(s + CAST(1024 - v AS BIGINT) * CAST(2251799813685248 AS BIGINT) AS DOUBLE)"
        s"""WITH ev AS (
           |  SELECT epoch_ns(ts) // 86400000000000 AS day, user_id
           |  FROM events),
           |k AS (SELECT DISTINCT day, user_id FROM ev),
           |h AS (
           |  SELECT day,
           |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
           |      AS BIGINT) AS h
           |  FROM k),
           |r AS (
           |  SELECT day, h % 1024 AS b,
           |    CASE WHEN h // 1024 = 0 THEN 51
           |         ELSE bit_count(((h // 1024) & -(h // 1024)) - 1) + 1 END AS rho
           |  FROM h),
           |regs AS (SELECT day, b, max(rho) AS m FROM r GROUP BY 1, 2),
           |days AS (SELECT DISTINCT day AS d FROM regs),
           |merged AS (
           |  SELECT days.d, b, max(m) AS m
           |  FROM days JOIN regs ON regs.day BETWEEN days.d - 6 AND days.d
           |  GROUP BY 1, 2),
           |g AS (
           |  SELECT d,
           |    CAST(sum(CAST(1 AS BIGINT) << (51 - m)) AS BIGINT) AS s,
           |    count(*) AS v
           |  FROM merged GROUP BY d),
           |tw AS (
           |  SELECT days.d, count(DISTINCT k.user_id) AS true_wau
           |  FROM days JOIN k ON k.day BETWEEN days.d - 6 AND days.d
           |  GROUP BY 1)
           |SELECT g.d AS day, CAST(tw.true_wau AS BIGINT) AS true_wau,
           |  CAST(1024 - v AS BIGINT) AS n_empty,
           |  round($raw, 9) AS est_raw,
           |  round(CASE WHEN $raw <= 2560.0 AND v < 1024
           |        THEN 1024.0 * ln(1024.0 / CAST(1024 - v AS DOUBLE))
           |        ELSE $raw END, 9) AS est
           |FROM g JOIN tw ON tw.d = g.d""".stripMargin
      }),

    // Count-Min frequency sketch probed for a fixed term set: d=4 × w=1024
    // integer counters (bounded, map-side combinable), est = min over the
    // term's counters, exact count alongside — est >= true_cnt is the
    // sketch guarantee, visible in the oracle-checked output.
    Q("sketch_countmin",
      (s, dir) => graft.ops.Sketches.countMinProbe(documents(s, dir), "text",
        Seq("table", "value", "scan", "merge", "zzzneverseen")),
      Some {
        val hp = hpSql(graft.ops.Sketches.CmD, "i, a, b")
        s"""WITH tok AS (
           |  SELECT unnest(list_filter(string_split(text, ' '),
           |    x -> length(x) > 0)) AS t
           |  FROM documents),
           |tk AS MATERIALIZED (SELECT t, CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) AS k
           |       FROM tok),
           |cnt AS (
           |  SELECT hp.i, ((hp.a * k + hp.b) % 2147483647) % 1024 AS b,
           |    count(*) AS c
           |  FROM tk, $hp
           |  GROUP BY 1, 2),
           |pr AS (SELECT unnest(['table', 'value', 'scan', 'merge',
           |         'zzzneverseen']) AS term),
           |pk AS (SELECT term, CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT) AS k
           |       FROM pr),
           |pb AS (SELECT term, hp.i, ((hp.a * k + hp.b) % 2147483647) % 1024 AS b
           |       FROM pk, $hp),
           |est AS (SELECT term, CAST(min(coalesce(c, 0)) AS BIGINT) AS est
           |        FROM pb LEFT JOIN cnt ON pb.i = cnt.i AND pb.b = cnt.b
           |        GROUP BY term),
           |tr AS (SELECT t, count(*) AS true_cnt FROM tk GROUP BY t)
           |SELECT term, est, CAST(coalesce(true_cnt, 0) AS BIGINT) AS true_cnt
           |FROM est LEFT JOIN tr ON est.term = tr.t""".stripMargin
      }),

    // Bloom membership filter over distinct corpus tokens (16384 bits in
    // 63-bit words so the distinct-power sum = bitwise OR stays positive
    // under DuckDB's HUGEINT sum), probed for the fixed term set — the
    // no-false-negative guarantee is oracle-visible.
    Q("sketch_bloom",
      (s, dir) => graft.ops.Sketches.bloomProbe(documents(s, dir), "text",
        Seq("table", "value", "scan", "merge", "zzzneverseen")),
      Some {
        val hp = hpSql(graft.ops.Sketches.BloomK, "i, a, b")
        s"""WITH tok AS (
           |  SELECT DISTINCT unnest(list_filter(string_split(text, ' '),
           |    x -> length(x) > 0)) AS t
           |  FROM documents),
           |tk AS MATERIALIZED (
           |  SELECT t, CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) AS k
           |  FROM tok),
           |bits AS (
           |  SELECT DISTINCT (((hp.a * k + hp.b) % 2147483647) % 16384) // 63 AS w,
           |    CAST(1 AS BIGINT)
           |      << CAST((((hp.a * k + hp.b) % 2147483647) % 16384) % 63 AS INT) AS v
           |  FROM tk, $hp),
           |words AS (SELECT w, CAST(sum(v) AS BIGINT) AS word FROM bits GROUP BY w),
           |pr AS (SELECT unnest(['table', 'value', 'scan', 'merge',
           |         'zzzneverseen']) AS term),
           |pk AS (SELECT term, CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT) AS k
           |       FROM pr),
           |pb AS (SELECT term,
           |         ((hp.a * k + hp.b) % 2147483647) % 16384 AS p
           |       FROM pk, $hp),
           |chk AS (
           |  SELECT term,
           |    min(coalesce((words.word >> CAST(p % 63 AS INT)) & 1, 0)) AS maybe
           |  FROM pb LEFT JOIN words ON p // 63 = words.w GROUP BY term),
           |tr AS (SELECT t FROM tk WHERE t IN ('table', 'value', 'scan', 'merge',
           |         'zzzneverseen'))
           |SELECT term, CAST(maybe AS INT) AS maybe_present,
           |  CAST(CASE WHEN tr.t IS NULL THEN 0 ELSE 1 END AS INT) AS truly_present
           |FROM chk LEFT JOIN tr ON chk.term = tr.t""".stripMargin
      }),

    // KMV bottom-k distinct sketch per source over token trigrams (k=64):
    // keep the 64 smallest 60-bit hashes, est = 63·2^60/h_(64). Pure
    // integer registers → bit-identical across engines; unlike HLL the
    // sketch supports set ops (see sketch_kmv_jaccard). Trigrams (not
    // tokens) as keys so the estimator branch engages (vocab is tiny).
    Q("sketch_kmv",
      // Spread BEFORE the trigram explode: the raw documents scan is one
      // input partition locally, and the interpreted wordNgrams HOF is the
      // dominant per-row cost — serialized it was ~6.5 s of the query
      (s, dir) => graft.ops.Sketches.kmvDistinct(
        graft.ops.Spread.byKey(documents(s, dir), col("doc_id"))
          .select(col("source"),
            explode(TA.textNgrams(col("text"), 3)).as("tri")),
        "source", "tri"),
      Some(s"""WITH $kmvTriCtes,
             |n AS (SELECT source, count(*) AS n_true FROM h GROUP BY 1),
             |r AS (SELECT source, h,
             |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn
             |  FROM h),
             |e AS (SELECT source, count(*) AS n_kept, max(h) AS kth
             |      FROM r WHERE rn <= 64 GROUP BY 1)
             |SELECT e.source, n_true, n_kept, kth AS kth_hash,
             |  round(CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
             |    ELSE 63e0 * 1152921504606846976e0 / CAST(kth AS DOUBLE) END,
             |    9) AS est
             |FROM e JOIN n ON e.source = n.source""".stripMargin)),

    // Pairwise Jaccard + union-cardinality estimation from the KMV
    // sketches (Beyer et al. 2007): union sketch = bottom-k of the two
    // register sets; J_est = |K ∩ K(a) ∩ K(b)| / |K|. Exact hash-set
    // Jaccard rides along so estimator quality is oracle-visible. All pair
    // work is k-bounded per pair — never corpus-bounded.
    Q("sketch_kmv_jaccard",
      (s, dir) => graft.ops.Sketches.kmvJaccard(
        graft.ops.Spread.byKey(documents(s, dir), col("doc_id"))
          .select(col("source"),
            explode(TA.textNgrams(col("text"), 3)).as("tri")),
        "source", "tri"),
      Some(s"""WITH $kmvTriCtes,
             |r AS (SELECT source, h,
             |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn
             |  FROM h),
             |kk AS MATERIALIZED (SELECT source, h FROM r WHERE rn <= 64),
             |gs AS (SELECT DISTINCT source FROM kk),
             |pr AS (SELECT a.source AS ga, b.source AS gb
             |       FROM gs a JOIN gs b ON a.source < b.source),
             |u AS (SELECT pr.ga, pr.gb, kk.h FROM pr JOIN kk ON kk.source = pr.ga
             |      UNION
             |      SELECT pr.ga, pr.gb, kk.h FROM pr JOIN kk ON kk.source = pr.gb),
             |ur AS (SELECT ga, gb, h,
             |    row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rn FROM u),
             |uk AS (SELECT ga, gb, h FROM ur WHERE rn <= 64),
             |e AS (SELECT uk.ga, uk.gb, count(*) AS nu, max(uk.h) AS kth,
             |      sum(CASE WHEN ka.h IS NOT NULL AND kb.h IS NOT NULL
             |          THEN 1 ELSE 0 END) AS nboth
             |      FROM uk LEFT JOIN kk ka ON ka.source = uk.ga AND ka.h = uk.h
             |              LEFT JOIN kk kb ON kb.source = uk.gb AND kb.h = uk.h
             |      GROUP BY 1, 2),
             |cnt AS (SELECT source, count(*) AS n FROM h GROUP BY 1),
             |i AS (SELECT a.source AS ga, b.source AS gb, count(*) AS ni
             |      FROM h a JOIN h b ON a.h = b.h AND a.source < b.source
             |      GROUP BY 1, 2),
             |tj AS (SELECT pr.ga, pr.gb,
             |       CAST(coalesce(i.ni, 0) AS DOUBLE) /
             |         CAST(ca.n + cb.n - coalesce(i.ni, 0) AS DOUBLE) AS tj
             |       FROM pr JOIN cnt ca ON ca.source = pr.ga
             |               JOIN cnt cb ON cb.source = pr.gb
             |       LEFT JOIN i ON i.ga = pr.ga AND i.gb = pr.gb)
             |SELECT e.ga AS source_a, e.gb AS source_b,
             |  round(CASE WHEN nu < 64 THEN CAST(nu AS DOUBLE)
             |    ELSE 63e0 * 1152921504606846976e0 / CAST(kth AS DOUBLE) END,
             |    9) AS est_union,
             |  round(CAST(nboth AS DOUBLE) / CAST(nu AS DOUBLE), 9) AS est_jaccard,
             |  round(tj.tj, 9) AS true_jaccard
             |FROM e JOIN tj ON tj.ga = e.ga AND tj.gb = e.gb""".stripMargin)),

    // mergeable equi-width histogram quantile sketch over event values:
    // global bin grid from a 1-row extent broadcast, per-group 64-bucket
    // counts (map-side combinable — the mergeable state), median/p90 by
    // cumulative-bin interpolation in EXACT integer arithmetic over
    // fixed-point cents, so both engines produce the estimate bit-for-bit.
    Q("sketch_hist_quantile",
      (s, dir) => graft.ops.Sketches.histQuantile(events(s, dir), "event_type", "value"),
      Some("""WITH c AS (
             |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
             |  FROM events),
             |x AS (SELECT min(c) AS mn, max(c) - min(c) + 1 AS span FROM c),
             |sk AS (
             |  SELECT event_type, mn, span, ((c - mn) * 64) // span AS b,
             |    CAST(count(*) AS BIGINT) AS cnt
             |  FROM c, x GROUP BY 1, 2, 3, 4),
             |cu AS (
             |  SELECT *, CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY b)
             |      AS BIGINT) AS cum,
             |    CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
             |  FROM sk),
             |qs AS (SELECT * FROM (VALUES ('q50', CAST(1 AS BIGINT), CAST(2 AS BIGINT)),
             |                             ('q90', CAST(9 AS BIGINT), CAST(10 AS BIGINT)))
             |       t(q, num, den)),
             |sel AS (
             |  SELECT event_type, q,
             |    mn + (b * span) // 64
             |       + ((target - (cum - cnt)) * span) // (64 * cnt) AS est_cents,
             |    row_number() OVER (PARTITION BY event_type, q ORDER BY b) AS rn
             |  FROM (SELECT cu.*, qs.q, (qs.num * cu.n + qs.den - 1) // qs.den AS target
             |        FROM cu, qs) WHERE cum >= target),
             |st AS (
             |  SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n_rows,
             |    CAST(count(*) AS INTEGER) AS n_bins_used
             |  FROM sk GROUP BY 1)
             |SELECT st.event_type, st.n_rows, st.n_bins_used,
             |  CAST(max(CASE WHEN q = 'q50' THEN est_cents END) AS DOUBLE) / 100.0
             |    AS q50_est,
             |  CAST(max(CASE WHEN q = 'q90' THEN est_cents END) AS DOUBLE) / 100.0
             |    AS q90_est
             |FROM st JOIN (SELECT * FROM sel WHERE rn = 1) s ON s.event_type = st.event_type
             |GROUP BY 1, 2, 3""".stripMargin)),

    // the MOSS match step over those fingerprints: equi-join on the hash
    // (LSH-banding shape) after dropping ubiquitous "stop grams" via a
    // document-frequency cap, pairs sharing >= 2 fingerprints.
    Q("dedup_winnow_pairs",
      (s, dir) => Dedup.winnowPairs(documents(s, dir), "doc_id", "text",
        n = 3, w = 4, minShared = 2, maxDf = 20),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> length(x) > 0) AS toks
             |  FROM documents),
             |g AS (
             |  SELECT doc_id,
             |    unnest(list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
             |      i -> i - 1)) AS pos,
             |    unnest(list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
             |      i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS ngram
             |  FROM t),
             |h AS (
             |  SELECT doc_id, pos,
             |    CAST(('0x' || substr(md5(ngram), 1, 8)) AS BIGINT) AS hh,
             |    count(*) OVER (PARTITION BY doc_id) AS n
             |  FROM g),
             |e AS (
             |  SELECT doc_id, pos, n,
             |    min(hh * 1048576 + (1048575 - pos)) OVER (
             |      PARTITION BY doc_id ORDER BY pos
             |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
             |  FROM h),
             |fp AS MATERIALIZED (SELECT DISTINCT doc_id, CAST(m // 1048576 AS BIGINT) AS fp_hash
             |       FROM e WHERE pos <= n - 4),
             |rare AS (SELECT fp_hash FROM fp GROUP BY fp_hash
             |         HAVING count(*) <= 20 AND count(*) > 1),
             |k AS MATERIALIZED (SELECT fp.doc_id, fp.fp_hash FROM fp JOIN rare USING (fp_hash))
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  CAST(count(*) AS BIGINT) AS n_shared
             |FROM k a JOIN k b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
             |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin)),

    // the SCALE PATH for containment: winnow-fingerprint candidates
    // (equi-join on rare hashes, linear in corpus fingerprints) -> exact
    // containment on ONLY the candidate pairs. Same candidates-then-exact
    // contract as minhash-LSH vs the all-pairs Jaccard baseline.
    Q("dedup_containment_lsh",
      (s, dir) => Dedup.containmentCandidates(documents(s, dir), "doc_id",
        "text", k = 3, tNum = 3, tDen = 4,
        n = 3, w = 4, minShared = 2, maxDf = 20),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> length(x) > 0) AS toks
             |  FROM documents),
             |g AS (
             |  SELECT doc_id,
             |    unnest(list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
             |      i -> i - 1)) AS pos,
             |    unnest(list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
             |      i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS ngram
             |  FROM t),
             |h AS (
             |  SELECT doc_id, pos,
             |    CAST(('0x' || substr(md5(ngram), 1, 8)) AS BIGINT) AS hh,
             |    count(*) OVER (PARTITION BY doc_id) AS n
             |  FROM g),
             |e AS (
             |  SELECT doc_id, pos, n,
             |    min(hh * 1048576 + (1048575 - pos)) OVER (
             |      PARTITION BY doc_id ORDER BY pos
             |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
             |  FROM h),
             |fp AS MATERIALIZED (SELECT DISTINCT doc_id, CAST(m // 1048576 AS BIGINT) AS fp_hash
             |       FROM e WHERE pos <= n - 4),
             |rare AS (SELECT fp_hash FROM fp GROUP BY fp_hash
             |         HAVING count(*) <= 20 AND count(*) > 1),
             |kk AS MATERIALIZED (SELECT fp.doc_id, fp.fp_hash FROM fp JOIN rare USING (fp_hash)),
             |cp AS MATERIALIZED (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM kk a JOIN kk b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |pos2 AS (
             |  SELECT doc_id, text,
             |    unnest(generate_series(1, greatest(length(text)-2, 1))) AS i
             |  FROM documents),
             |sh AS (SELECT DISTINCT doc_id, substr(text, i, 3) AS sh FROM pos2),
             |sz AS (SELECT doc_id, CAST(count(*) AS INTEGER) n FROM sh GROUP BY 1),
             |inter AS (
             |  SELECT cp.id_a, cp.id_b, CAST(count(*) AS BIGINT) i
             |  FROM cp JOIN sh a ON a.doc_id = cp.id_a
             |  JOIN sh b ON b.doc_id = cp.id_b AND b.sh = a.sh
             |  GROUP BY 1, 2)
             |SELECT id_a, id_b, sa.n AS n_a, sb.n AS n_b, i AS n_shared,
             |  round(CAST(i AS DOUBLE) / least(sa.n, sb.n), 9) AS containment,
             |  CASE WHEN sa.n <= sb.n THEN id_a ELSE id_b END AS contained_id
             |FROM inter
             |JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
             |WHERE i * 4 >= 3 * least(sa.n, sb.n)""".stripMargin)),

    // triangle counting over the simhash near-dup graph (canonical
    // low->high orientation: one wedge join on the middle node + one
    // closing join on (a, c) — each triangle exactly once, equi-joins
    // only). Clique-ness of near-dup clusters.
    Q("graph_triangles",
      (s, dir) => Dedup.triangles(
        Dedup.simhashPairs(documents(s, dir), "doc_id", "text", "source", 16, 2),
        "doc_id"),
      Some(s"""WITH $simhashPairCtes,
             |ed AS (SELECT DISTINCT least(id_a, id_b) AS a,
             |         greatest(id_a, id_b) AS b FROM spairs),
             |tri AS (
             |  SELECT e1.a, e1.b, e2.b AS c
             |  FROM ed e1 JOIN ed e2 ON e2.a = e1.b
             |  JOIN ed e3 ON e3.a = e1.a AND e3.b = e2.b)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_triangles
             |FROM (SELECT unnest([a, b, c]) AS doc_id FROM tri)
             |GROUP BY 1""".stripMargin)),

    // DOULION approximate triangles (Tsourakakis 2009) — the 100 TB form:
    // deterministic-hash edge sampling cuts wedge work by p^2 and
    // both engines sparsify identically, so the unbiased estimate is
    // cross-engine exact (see Dedup.trianglesDoulion scaladoc for the
    // measured 900x wedge blow-up that motivates it). Registered at
    // den=2 (p=1/2) so the tiny sf0.01 gate corpus keeps sampled
    // triangles; production picks den by target variance (the estimator
    // is unbiased at any den).
    Q("graph_triangles_doulion",
      (s, dir) => Dedup.trianglesDoulion(
        Dedup.simhashPairs(documents(s, dir), "doc_id", "text", "source", 16, 2),
        "doc_id", den = 2),
      Some(s"""WITH $simhashPairCtes,
             |ed AS (SELECT DISTINCT least(id_a, id_b) AS a,
             |         greatest(id_a, id_b) AS b FROM spairs),
             |eds AS (SELECT a, b FROM ed
             |  WHERE CAST(('0x' || substr(md5(
             |      CAST(a AS VARCHAR) || '_' || CAST(b AS VARCHAR)), 1, 15))
             |    AS BIGINT) % 2 = 0),
             |tri AS (
             |  SELECT e1.a, e1.b, e2.b AS c
             |  FROM eds e1 JOIN eds e2 ON e2.a = e1.b
             |  JOIN eds e3 ON e3.a = e1.a AND e3.b = e2.b)
             |SELECT doc_id, CAST(count(*) * 8 AS BIGINT) AS est_triangles
             |FROM (SELECT unnest([a, b, c]) AS doc_id FROM tri)
             |GROUP BY 1""".stripMargin)),

    // near-dup cluster labels: simhash pairs -> connected components
    // (min-reachable-id fixpoint; oracle = recursive-CTE reachability)
    Q("dedup_components",
      (s, dir) => {
        val docs = documents(s, dir)
        Dedup.connectedComponents(
          Dedup.simhashPairs(docs, "doc_id", "text", "source", 16, 2),
          docs, "doc_id")
      },
      Some(s"""WITH RECURSIVE $simhashPairCtes,
             |edges AS (SELECT id_a AS src, id_b AS dst FROM spairs
             |          UNION ALL SELECT id_b, id_a FROM spairs),
             |walk(id, comp) AS (
             |  SELECT doc_id, doc_id FROM documents
             |  UNION
             |  SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.id)
             |SELECT id AS doc_id, min(comp) AS comp FROM walk GROUP BY id""".stripMargin)),

    // semi-supervised label propagation over the same near-dup graph:
    // a 1-in-7 slice carries its lang as a clamped seed (the synthetic
    // near-dup pairs connect ids of EQUAL residue mod 20, so a mod-10
    // seed slice only ever reaches other seeds — mod 7 crosses the
    // duplicate structure and genuinely propagates); 3 synchronous
    // rounds spread majority labels (ties to the smallest label) across
    // near-dup structure. The oracle unrolls every round as CTEs.
    // k-core of the simhash near-dup graph (Seidman): peel nodes whose
    // within-survivor degree < k until (bounded-round) fixpoint. Cliquish
    // template/boilerplate clusters survive; chains and incidental stars
    // peel away — the graph-shape complement to dedup_triangles. 4 peel
    // rounds unrolled as chained CTEs in the oracle (same bounded
    // semantics both engines; KCoreSpec proves 4 covers this graph's peel
    // depth and fixpoint equality vs an exact referee).
    Q("dedup_kcore",
      (s, dir) => {
        val docs = documents(s, dir)
        Dedup.kCore(
          Dedup.simhashPairs(docs, "doc_id", "text", "source", 16, 2),
          docs, "doc_id", k = 2, rounds = 4)
      },
      Some {
        val rounds = (1 to 4).map { r =>
          s"""d$r AS (
             |  SELECT e.src AS id, count(*) AS c FROM edges e
             |  JOIN s${r - 1} a ON e.src = a.id
             |  JOIN s${r - 1} b ON e.dst = b.id
             |  GROUP BY 1),
             |s$r AS (SELECT id FROM d$r WHERE c >= 2)""".stripMargin
        }.mkString(",\n")
        s"""WITH $simhashPairCtes,
           |edges AS (SELECT id_a AS src, id_b AS dst FROM spairs
           |          UNION SELECT id_b, id_a FROM spairs),
           |s0 AS (SELECT doc_id AS id FROM documents),
           |$rounds
           |SELECT id AS doc_id, c AS core_deg FROM d4 WHERE c >= 2""".stripMargin
      }),

    Q("label_propagation",
      (s, dir) => {
        val docs = documents(s, dir)
        Dedup.labelPropagation(
          Dedup.simhashPairs(docs, "doc_id", "text", "source", 16, 2),
          docs, "doc_id",
          when(col("doc_id") % 7 === 0, col("lang")), rounds = 3)
      },
      Some {
        val rounds = (1 to 3).map { r =>
          s"""v$r AS (
             |  SELECT e.dst, l.label, count(*) AS c
             |  FROM edges e JOIN l${r - 1} l ON l.id = e.src
             |  LEFT JOIN l${r - 1} x ON x.id = e.dst
             |  WHERE x.id IS NULL GROUP BY 1, 2),
             |n$r AS (
             |  SELECT dst AS id, label, $r AS round FROM (
             |    SELECT *, row_number() OVER (PARTITION BY dst
             |      ORDER BY c DESC, label) AS rn FROM v$r) WHERE rn = 1),
             |l$r AS (SELECT * FROM l${r - 1} UNION ALL SELECT * FROM n$r)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH $simhashPairCtes,
           |edges AS (SELECT id_a AS src, id_b AS dst FROM spairs
           |          UNION ALL SELECT id_b, id_a FROM spairs),
           |l0 AS (SELECT doc_id AS id, lang AS label, 0 AS round
           |       FROM documents WHERE doc_id % 7 = 0),
           |$rounds
           |SELECT id AS doc_id, label, CAST(round AS INTEGER) AS round
           |FROM l3""".stripMargin
      }),

    // the deduplicated corpus: one representative (min doc_id) per near-dup
    // cluster + all singletons — what a training pipeline actually feeds on
    Q("dedup_cluster_keep",
      (s, dir) => {
        val docs = documents(s, dir)
        val comp = Dedup.connectedComponents(
          Dedup.simhashPairs(docs, "doc_id", "text", "source", 16, 2),
          docs, "doc_id")
        docs.join(comp.filter(col("doc_id") === col("comp")).select("doc_id"),
            "doc_id")
          .select("doc_id", "source", "n_chars")
      },
      Some(s"""WITH RECURSIVE $simhashPairCtes,
             |edges AS (SELECT id_a AS src, id_b AS dst FROM spairs
             |          UNION ALL SELECT id_b, id_a FROM spairs),
             |walk(id, comp) AS (
             |  SELECT doc_id, doc_id FROM documents
             |  UNION
             |  SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.id),
             |cc AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id)
             |SELECT d.doc_id, d.source, d.n_chars
             |FROM cc JOIN documents d ON cc.id = d.doc_id
             |WHERE cc.id = cc.comp""".stripMargin)),

    // quality-aware representative selection: instead of min-id, keep the
    // HIGHEST-QUALITY doc per near-dup cluster (n_chars as the integer
    // quality signal; ties break to min doc_id). Top-1 per cluster via a
    // max(struct(quality, -id)) aggregation — map-side combinable, no
    // full-row shuffle, no window.
    Q("dedup_cluster_best",
      (s, dir) => {
        val docs = documents(s, dir)
        val comp = Dedup.connectedComponents(
          Dedup.simhashPairs(docs, "doc_id", "text", "source", 16, 2),
          docs, "doc_id")
        docs.join(comp, "doc_id")
          .groupBy("comp")
          .agg(max(struct(col("n_chars"), (-col("doc_id")).as("nid")))
            .as("best"))
          .select(col("comp"), (-col("best.nid")).as("doc_id"),
            col("best.n_chars").as("n_chars"))
      },
      Some(s"""WITH RECURSIVE $simhashPairCtes,
             |edges AS (SELECT id_a AS src, id_b AS dst FROM spairs
             |          UNION ALL SELECT id_b, id_a FROM spairs),
             |walk(id, comp) AS (
             |  SELECT doc_id, doc_id FROM documents
             |  UNION
             |  SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.id),
             |cc AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id)
             |SELECT comp,
             |  first(d.doc_id ORDER BY d.n_chars DESC, d.doc_id) AS doc_id,
             |  first(d.n_chars ORDER BY d.n_chars DESC, d.doc_id) AS n_chars
             |FROM cc JOIN documents d ON cc.id = d.doc_id
             |GROUP BY comp""".stripMargin)),

    // centrality-aware representative selection: integer fixed-point
    // PageRank (3 unrolled exact-arithmetic iterations) over the near-dup
    // candidate graph; the highest-rank member per component is the keeper
    // (most linked into its cluster = shares fingerprints with the most
    // variants). Third keeper policy next to min-id and max-quality.
    Q("dedup_cluster_central",
      (s, dir) => {
        val docs = documents(s, dir)
        val pairs = Dedup.simhashPairs(docs, "doc_id", "text", "source", 16, 2)
        val comp = Dedup.connectedComponents(pairs, docs, "doc_id")
        val pr = Dedup.pageRank(pairs, docs, "doc_id", iters = 3)
        docs.select("doc_id").join(comp, "doc_id").join(pr, "doc_id")
          .groupBy("comp")
          .agg(count(lit(1)).as("n_members"),
            max(struct(col("rank_micro"), (-col("doc_id")).as("nid")))
              .as("best"))
          .select(col("comp"), (-col("best.nid")).as("doc_id"),
            col("best.rank_micro").as("rank_micro"), col("n_members"))
      },
      Some(s"""WITH RECURSIVE $simhashPairCtes,
             |edges AS (SELECT id_a AS src, id_b AS dst FROM spairs
             |          UNION ALL SELECT id_b, id_a FROM spairs),
             |walk(id, comp) AS (
             |  SELECT doc_id, doc_id FROM documents
             |  UNION
             |  SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.id),
             |cc AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id),
             |deg AS (SELECT src, count(*) AS d FROM edges GROUP BY 1),
             |r0 AS (SELECT doc_id AS id, CAST(1000000 AS BIGINT) AS r FROM documents),
             |r1 AS (SELECT r0.id, CAST(150000 + (85 * coalesce(s.t, 0)) // 100 AS BIGINT) AS r
             |  FROM r0 LEFT JOIN (
             |    SELECT e.dst AS id, sum(r0.r // deg.d) AS t
             |    FROM edges e JOIN r0 ON r0.id = e.src
             |      JOIN deg ON deg.src = e.src GROUP BY 1) s ON s.id = r0.id),
             |r2 AS (SELECT r1.id, CAST(150000 + (85 * coalesce(s.t, 0)) // 100 AS BIGINT) AS r
             |  FROM r1 LEFT JOIN (
             |    SELECT e.dst AS id, sum(r1.r // deg.d) AS t
             |    FROM edges e JOIN r1 ON r1.id = e.src
             |      JOIN deg ON deg.src = e.src GROUP BY 1) s ON s.id = r1.id),
             |r3 AS (SELECT r2.id, CAST(150000 + (85 * coalesce(s.t, 0)) // 100 AS BIGINT) AS r
             |  FROM r2 LEFT JOIN (
             |    SELECT e.dst AS id, sum(r2.r // deg.d) AS t
             |    FROM edges e JOIN r2 ON r2.id = e.src
             |      JOIN deg ON deg.src = e.src GROUP BY 1) s ON s.id = r2.id)
             |SELECT cc.comp,
             |  first(r3.id ORDER BY r3.r DESC, r3.id) AS doc_id,
             |  first(r3.r ORDER BY r3.r DESC, r3.id) AS rank_micro,
             |  CAST(count(*) AS BIGINT) AS n_members
             |FROM cc JOIN r3 ON cc.id = r3.id
             |GROUP BY cc.comp""".stripMargin)),

    // the dedup release report every pipeline run emits: per source, how
    // many docs, how many near-dup clusters, and the implied removal rate
    // if one representative per cluster survives. One groupBy over the
    // shared component labeling (simhash pairs are source-scoped, so
    // clusters never straddle sources) — map-side combinable counts.
    Q("dedup_report",
      (s, dir) => {
        val docs = documents(s, dir)
        val comp = Dedup.connectedComponents(
          Dedup.simhashPairs(docs, "doc_id", "text", "source", 16, 2),
          docs, "doc_id")
        docs.select("doc_id", "source").join(comp, "doc_id")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("comp")).as("n_clusters"))
          .select(col("source"), col("n_docs"), col("n_clusters"),
            (col("n_docs") - col("n_clusters")).as("n_dup"),
            round((col("n_docs") - col("n_clusters")).cast("double") * 100.0 /
              col("n_docs").cast("double"), 9).as("dup_rate_pct"))
      },
      Some(s"""WITH RECURSIVE $simhashPairCtes,
             |edges AS (SELECT id_a AS src, id_b AS dst FROM spairs
             |          UNION ALL SELECT id_b, id_a FROM spairs),
             |walk(id, comp) AS (
             |  SELECT doc_id, doc_id FROM documents
             |  UNION
             |  SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.id),
             |cc AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id)
             |SELECT d.source, count(*) AS n_docs,
             |  count(DISTINCT cc.comp) AS n_clusters,
             |  count(*) - count(DISTINCT cc.comp) AS n_dup,
             |  round((count(*) - count(DISTINCT cc.comp)) * 100e0 / count(*), 9)
             |    AS dup_rate_pct
             |FROM documents d JOIN cc ON d.doc_id = cc.id
             |GROUP BY d.source""".stripMargin)),

    // write-side layout: Morton (Z-order) key over (user, time) so every
    // output file gets a tight bounding box in BOTH dimensions — min/max
    // stats then prune `user = u AND ts BETWEEN …` scans that a
    // single-column sort can only prune on its leading column (the
    // Delta/Iceberg OPTIMIZE ZORDER technique). Pure codegen'd bit math +
    // one 1-row bounds aggregate; no shuffle to COMPUTE the key.
    Q("zorder_layout",
      (s, dir) => graft.ops.Layout.zorder2(events(s, dir), "event_id",
        col("user_id"), col("ts"), bits = 16, nBuckets = 32),
      Some("""WITH b AS (
             |  SELECT min(user_id) AS lo1, max(user_id) AS hi1,
             |    min(epoch_ns(ts)) AS lo2, max(epoch_ns(ts)) AS hi2
             |  FROM events),
             |sc AS (
             |  SELECT event_id,
             |    CASE WHEN b.hi1 = b.lo1 THEN 0 ELSE least(
             |      CAST(floor(CAST(user_id - b.lo1 AS DOUBLE) * 65535e0
             |        / CAST(b.hi1 - b.lo1 AS DOUBLE)) AS BIGINT), 65535) END AS a,
             |    CASE WHEN b.hi2 = b.lo2 THEN 0 ELSE least(
             |      CAST(floor(CAST(epoch_ns(ts) - b.lo2 AS DOUBLE) * 65535e0
             |        / CAST(b.hi2 - b.lo2 AS DOUBLE)) AS BIGINT), 65535) END AS bq
             |  FROM events, b),
             |zz AS (
             |  SELECT event_id,
             |    CAST(sum((((a >> g.i) & 1) << (2 * g.i)) +
             |             (((bq >> g.i) & 1) << (2 * g.i + 1))) AS BIGINT) AS zvalue
             |  FROM sc, generate_series(0, 15) g(i)
             |  GROUP BY event_id)
             |SELECT event_id, zvalue,
             |  CAST(zvalue >> 27 AS INTEGER) AS bucket
             |FROM zz""".stripMargin)),

    // file-skipping effectiveness report: the SAME middle-eighth user
    // slice evaluated against per-bucket min/max bounds under the z-order
    // layout vs naive id-hash bucketing — n_scanned, rows_scanned, and
    // read amplification (rows scanned per matching row) side by side.
    // This is the number that justifies writeZOrdered: hash buckets all
    // intersect the slice, z-order buckets mostly prune.
    Q("zorder_pruning",
      (s, dir) => {
        val ev = events(s, dir).select(col("event_id"), col("user_id"))
        val z = graft.ops.Layout.zorder2(events(s, dir), "event_id",
          col("user_id"), col("ts"), bits = 16, nBuckets = 32)
        val both = ev.join(z.select("event_id", "bucket"), "event_id")
          .withColumn("hbucket", pmod(col("event_id"), lit(32)).cast("int"))
          .selectExpr("stack(2, 'zorder', bucket, 'hash', hbucket) AS (layout, bkt)",
            "user_id")
        val bounds = ev.agg(min("user_id").as("__lo"), max("user_id").as("__hi"))
        val perBucket = both.crossJoin(broadcast(bounds))
          .withColumn("__u1", expr("__lo + (__hi - __lo) * 3 div 8"))
          .withColumn("__u2", expr("__lo + (__hi - __lo) * 4 div 8"))
          .withColumn("__hit", (col("user_id") >= col("__u1") &&
            col("user_id") <= col("__u2")).cast("long"))
          .groupBy("layout", "bkt")
          .agg(min("user_id").as("__mn"), max("user_id").as("__mx"),
            count(lit(1)).as("__n"), sum("__hit").as("__m"),
            max("__u1").as("__u1"), max("__u2").as("__u2"))
        val scanned = col("__mx") >= col("__u1") && col("__mn") <= col("__u2")
        perBucket.groupBy("layout")
          .agg(count(lit(1)).as("n_buckets"),
            sum(when(scanned, 1L).otherwise(0L)).as("n_scanned"),
            sum("__n").as("rows_total"),
            sum(when(scanned, col("__n")).otherwise(0L)).as("rows_scanned"),
            sum("__m").as("rows_match"))
          .withColumn("read_amplification",
            round(col("rows_scanned").cast("double") /
              greatest(col("rows_match"), lit(1L)).cast("double"), 9))
      },
      Some("""WITH b AS (
             |  SELECT min(user_id) AS lo1, max(user_id) AS hi1,
             |    min(epoch_ns(ts)) AS lo2, max(epoch_ns(ts)) AS hi2
             |  FROM events),
             |sc AS (
             |  SELECT event_id,
             |    CASE WHEN b.hi1 = b.lo1 THEN 0 ELSE least(
             |      CAST(floor(CAST(user_id - b.lo1 AS DOUBLE) * 65535e0
             |        / CAST(b.hi1 - b.lo1 AS DOUBLE)) AS BIGINT), 65535) END AS a,
             |    CASE WHEN b.hi2 = b.lo2 THEN 0 ELSE least(
             |      CAST(floor(CAST(epoch_ns(ts) - b.lo2 AS DOUBLE) * 65535e0
             |        / CAST(b.hi2 - b.lo2 AS DOUBLE)) AS BIGINT), 65535) END AS bq
             |  FROM events, b),
             |zz AS (
             |  SELECT event_id,
             |    CAST(sum((((a >> g.i) & 1) << (2 * g.i)) +
             |             (((bq >> g.i) & 1) << (2 * g.i + 1))) AS BIGINT) AS zvalue
             |  FROM sc, generate_series(0, 15) g(i)
             |  GROUP BY event_id),
             |w AS (
             |  SELECT 'zorder' AS layout, CAST(zvalue >> 27 AS INTEGER) AS bkt,
             |    e.user_id
             |  FROM events e JOIN zz USING (event_id)
             |  UNION ALL
             |  SELECT 'hash', CAST(e.event_id % 32 AS INTEGER), e.user_id
             |  FROM events e),
             |ub AS (SELECT min(user_id) AS lo, max(user_id) AS hi FROM events),
             |pr AS (SELECT lo + (hi - lo) * 3 // 8 AS u1,
             |    lo + (hi - lo) * 4 // 8 AS u2 FROM ub),
             |pb AS (SELECT layout, bkt, min(user_id) AS mn, max(user_id) AS mx,
             |    CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(CASE WHEN user_id >= u1 AND user_id <= u2
             |      THEN 1 ELSE 0 END) AS BIGINT) AS m,
             |    max(u1) AS u1, max(u2) AS u2
             |  FROM w, pr GROUP BY 1, 2)
             |SELECT layout, CAST(count(*) AS BIGINT) AS n_buckets,
             |  CAST(sum(CASE WHEN mx >= u1 AND mn <= u2 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_scanned,
             |  CAST(sum(n) AS BIGINT) AS rows_total,
             |  CAST(sum(CASE WHEN mx >= u1 AND mn <= u2 THEN n ELSE 0 END)
             |    AS BIGINT) AS rows_scanned,
             |  CAST(sum(m) AS BIGINT) AS rows_match,
             |  round(CAST(sum(CASE WHEN mx >= u1 AND mn <= u2 THEN n ELSE 0 END)
             |      AS DOUBLE)
             |    / CAST(greatest(sum(m), 1) AS DOUBLE), 9) AS read_amplification
             |FROM pb GROUP BY 1""".stripMargin)),

    // Hilbert-curve layout key over the same (user, time) grid — the
    // better-locality sibling of zorder_layout: consecutive curve
    // positions are ALWAYS grid-adjacent (LayoutSpec proves it
    // exhaustively), so range-partitioned files get ~2× tighter bounding
    // boxes. The per-level rotate-and-accumulate iteration unrolls into 8
    // chained projections (Spark) / 8 chained CTEs (oracle) of exact
    // integer arithmetic.
    Q("hilbert_layout",
      (s, dir) => {
        val ev = events(s, dir)
        // quantize with the SAME scaled() math zorder uses (bits=8), then
        // the Hilbert fold
        val d1 = col("user_id").cast("long")
        val d2 = col("ts").cast("long")
        val bounds = ev.agg(
          min(d1).as("__lo1"), max(d1).as("__hi1"),
          min(d2).as("__lo2"), max(d2).as("__hi2"))
        val sc = ev.crossJoin(bounds).select(col("event_id"),
          when(col("__hi1") === col("__lo1"), lit(0L)).otherwise(least(
            floor((d1 - col("__lo1")).cast("double") * lit(255.0) /
              (col("__hi1") - col("__lo1")).cast("double")).cast("long"),
            lit(255L))).as("gx"),
          when(col("__hi2") === col("__lo2"), lit(0L)).otherwise(least(
            floor((d2 - col("__lo2")).cast("double") * lit(255.0) /
              (col("__hi2") - col("__lo2")).cast("double")).cast("long"),
            lit(255L))).as("gy"))
        graft.ops.Layout.hilbert2(sc, "gx", "gy", bits = 8, outCol = "hd")
          .select(col("event_id"), col("gx"), col("gy"), col("hd"),
            shiftright(col("hd"), 11).cast("int").as("bucket"))
      },
      Some {
        val levels = (7 to 0 by -1).map { i =>
          val s = 1L << i
          val prev = if (i == 7) "sc" else s"l${i + 1}"
          s"""l$i AS (SELECT event_id, gx, gy,
             |  d + $s * $s * xor(3 * (CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END),
             |                    (CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END)) AS d,
             |  CASE WHEN (y & $s) = 0 THEN
             |    CASE WHEN (x & $s) > 0 THEN 255 - y ELSE y END
             |  ELSE x END AS x,
             |  CASE WHEN (y & $s) = 0 THEN
             |    CASE WHEN (x & $s) > 0 THEN 255 - x ELSE x END
             |  ELSE y END AS y
             |FROM $prev)""".stripMargin
        }.mkString(",\n")
        s"""WITH b AS (
           |  SELECT min(user_id) AS lo1, max(user_id) AS hi1,
           |    min(epoch_ns(ts)) AS lo2, max(epoch_ns(ts)) AS hi2
           |  FROM events),
           |sc AS (
           |  SELECT event_id,
           |    CASE WHEN b.hi1 = b.lo1 THEN 0 ELSE least(
           |      CAST(floor(CAST(user_id - b.lo1 AS DOUBLE) * 255e0
           |        / CAST(b.hi1 - b.lo1 AS DOUBLE)) AS BIGINT), 255) END AS gx,
           |    CASE WHEN b.hi2 = b.lo2 THEN 0 ELSE least(
           |      CAST(floor(CAST(epoch_ns(ts) - b.lo2 AS DOUBLE) * 255e0
           |        / CAST(b.hi2 - b.lo2 AS DOUBLE)) AS BIGINT), 255) END AS gy
           |  FROM events, b),
           |sc2 AS (SELECT event_id, gx, gy, gx AS x, gy AS y,
           |        CAST(0 AS BIGINT) AS d FROM sc),
           |${levels.replaceFirst("FROM sc\\)", "FROM sc2)")}
           |SELECT event_id, gx, gy, d AS hd,
           |  CAST(d >> 11 AS INTEGER) AS bucket
           |FROM l0""".stripMargin
      }),

    // deterministic fixed-size uniform sample: exactly k docs by hash order
    // — TakeOrderedAndProject at scale (per-partition top-k merged on the
    // driver; the full table is never sorted or shuffled)
    Q("sample_fixed_k",
      (s, dir) => documents(s, dir)
        .withColumn("__h", TA.sampleHash(col("doc_id")))
        .orderBy(col("__h"), col("doc_id"))
        .limit(100)
        .select("doc_id", "source"),
      Some("""SELECT doc_id, source FROM documents
             |ORDER BY ((doc_id % 2147483647) * 2654435761 + 40503)
             |  % 2147483647 % 1000, doc_id
             |LIMIT 100""".stripMargin)),

    // deterministic per-epoch shuffling — the training-data ordering
    // primitive: each epoch reads the corpus in a different reproducible
    // pseudo-random order. Within-epoch ranks come from the ordered-sweep
    // global index over (epoch, hash) MINUS the epoch offset —
    // a per-epoch window would serialize the whole corpus through one
    // task; this stays one range exchange
    Q("epoch_shuffle",
      (s, dir) => {
        val d = documents(s, dir).select(col("doc_id"))
          .withColumn("epoch", explode(sequence(lit(0L), lit(2L))))
          .withColumn("hkey",
            TA.sampleHash(col("doc_id") * 1000003L + col("epoch") * 7919L))
        val n = documents(s, dir).agg(count(lit(1)).as("__n"))
        graft.ops.Index.withGlobalPosition(d,
            Seq("epoch", "hkey", "doc_id"), "gpos")
          .crossJoin(broadcast(n))
          .select(col("epoch"), col("doc_id"), col("hkey"),
            (col("gpos") - col("epoch") * col("__n") + 1L).as("rank"))
      },
      Some("""WITH h AS (
             |  SELECT doc_id, e.epoch,
             |    ((doc_id * 1000003 + e.epoch * 7919) % 2147483647)
             |      * 2654435761 % 2147483647 AS h0
             |  FROM documents, generate_series(0, 2) e(epoch))
             |SELECT epoch, doc_id, (h0 + 40503) % 2147483647 % 1000 AS hkey,
             |  row_number() OVER (PARTITION BY epoch
             |    ORDER BY (h0 + 40503) % 2147483647 % 1000, doc_id) AS rank
             |FROM h""".stripMargin)),

    // embedding-cosine near-dup (semantic dedup) within label scope
    Q("dedup_embed",
      (s, dir) => Dedup.embedCosinePairs(embeddings(s, dir), "vec_id",
        "embedding", "label", 0.3),
      Some("""WITH e0 AS (SELECT vec_id, label,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
             |  FROM embeddings),
             |e AS (SELECT vec_id, label,
             |    list_transform(generate_series(1, 64), i -> emb[i] /
             |      sqrt(list_sum(list_transform(generate_series(1, 64),
             |        j -> emb[j] * emb[j])))) AS e
             |  FROM e0
             |  WHERE list_sum(list_transform(generate_series(1, 64),
             |    j -> emb[j] * emb[j])) > 0),
             |pairs AS (
             |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |    list_sum(list_transform(generate_series(1, 64),
             |      i -> a.e[i] * b.e[i])) AS c
             |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
             |SELECT id_a, id_b, round(c, 8) AS cosine
             |FROM pairs WHERE c >= 0.3""".stripMargin)),

    // embedding near-dup with an LSH-bucket scope — the 100 TB path the
    // Dedup scaladoc promises: quadratic work only inside hyperplane
    // buckets, never a global pair join
    Q("dedup_embed_lsh",
      (s, dir) => Dedup.embedCosinePairs(
        embeddings(s, dir).withColumn("bucket",
          Similarity.hyperplaneSignature(col("embedding"), 64, 8)),
        "vec_id", "embedding", "bucket", 0.3),
      Some("""WITH e0 AS (SELECT vec_id,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
             |  FROM embeddings),
             |sigbits AS (
             |  SELECT vec_id, g.j,
             |    CASE WHEN list_sum(list_transform(generate_series(1, 64),
             |        i -> emb[i] * sin((g.j + 1) * 1.0 * i))) > 0
             |      THEN (1::BIGINT << g.j) ELSE 0 END AS bit
             |  FROM e0, generate_series(0, 7) g(j)),
             |buck AS (SELECT vec_id, CAST(sum(bit) AS BIGINT) AS bucket
             |  FROM sigbits GROUP BY vec_id),
             |e AS (SELECT e0.vec_id, buck.bucket,
             |    list_transform(generate_series(1, 64), i -> emb[i] /
             |      sqrt(list_sum(list_transform(generate_series(1, 64),
             |        j -> emb[j] * emb[j])))) AS e
             |  FROM e0 JOIN buck ON e0.vec_id = buck.vec_id
             |  WHERE list_sum(list_transform(generate_series(1, 64),
             |    j -> emb[j] * emb[j])) > 0),
             |pairs AS (
             |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |    list_sum(list_transform(generate_series(1, 64),
             |      i -> a.e[i] * b.e[i])) AS c
             |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
             |SELECT id_a, id_b, round(c, 8) AS cosine
             |FROM pairs WHERE c >= 0.3""".stripMargin)),

    // ---- similarity search ------------------------------------------
    // k-means trainer for the IVF coarse quantizer (3 Lloyd rounds,
    // deterministic first-k seed) — centroids in long format
    Q("kmeans_train",
      (s, dir) => Similarity.kmeansCentroids(embeddings(s, dir), "vec_id",
        "embedding", k = 8, dims = 64, iters = 3),
      Some(s"""WITH ${kmeansCtes(8, 64, 3)}
             |SELECT cent_id, CAST(g.i AS INTEGER) AS dim, cx[g.i] AS v
             |FROM cent3, generate_series(1, 64) g(i)""".stripMargin)),

    // final cluster assignment under the trained centroids
    Q("kmeans_assign",
      (s, dir) => Similarity.kmeansAssign(embeddings(s, dir), "vec_id",
        "embedding", k = 8, dims = 64, iters = 3),
      Some(s"""WITH ${kmeansCtes(8, 64, 3)},
             |xdd AS (SELECT id, list_transform(xi, v -> CAST(v AS DOUBLE) / 1000000.0) AS x FROM xq)
             |SELECT id AS vec_id, cell FROM (
             |  SELECT xdd.id, c.cent_id AS cell,
             |    row_number() OVER (PARTITION BY xdd.id ORDER BY
             |      list_sum(list_transform(generate_series(1, 64), i -> c.cx[i] * c.cx[i]))
             |      - 2 * list_sum(list_transform(generate_series(1, 64), i -> xdd.x[i] * c.cx[i])),
             |      c.cent_id) AS rn
             |  FROM xdd, cent3 c) WHERE rn = 1""".stripMargin)),

    // JL random projection 64→16 dims: hash-derived ±1 matrix (identical
    // in both engines via md5 parity), micro-unit integer sums, exact
    // 1/√16 scale — distance-preserving compression before cheap ANN
    Q("embed_project_jl",
      (s, dir) => Similarity.jlProject(embeddings(s, dir), "vec_id",
        "embedding", dims = 64, outDims = 16),
      Some("""WITH m AS (
             |  SELECT j, i,
             |    CASE WHEN CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || '_' ||
             |      CAST(i AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0
             |    THEN 1 ELSE -1 END AS s
             |  FROM generate_series(0, 15) g1(j), generate_series(1, 64) g2(i)),
             |x AS (
             |  SELECT vec_id, g.i AS i,
             |    CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 1000000.0) AS BIGINT) AS xi
             |  FROM embeddings, generate_series(1, 64) g(i))
             |SELECT x.vec_id, CAST(m.j AS INTEGER) AS out_dim,
             |  CAST(sum(x.xi * m.s) AS DOUBLE) / 1000000.0 * 0.25 AS v
             |FROM x JOIN m ON x.i = m.i
             |GROUP BY 1, 2""".stripMargin)),

    // per-dimension standardization (whitening-lite before ANN/clustering):
    // micro-unit integer sums give exact per-dim mean/variance (the
    // Exact.avg pattern applied per dimension), then z = (x−μ)/σ as single
    // double ops — a 64-row stats model broadcast back to the vectors
    Q("embed_standardize",
      (s, dir) => {
        val x = embeddings(s, dir).select(col("vec_id"),
            posexplode(expr(
              "transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT))"))
              .as(Seq("i0", "xi")))
          .withColumn("dim", (col("i0") + 1).cast("int")).drop("i0")
        val st = x.groupBy("dim").agg(
            count(lit(1)).as("__n"),
            sum(col("xi").cast("decimal(38,0)")).cast("double").as("__s1"),
            sum(col("xi").cast("decimal(19,0)") * col("xi").cast("decimal(19,0)"))
              .cast("double").as("__s2"))
          .select(col("dim"), (col("__s1") / col("__n")).as("__mean"),
            (col("__s2") / col("__n") -
              (col("__s1") / col("__n")) * (col("__s1") / col("__n"))).as("__var"))
        x.join(broadcast(st), "dim")
          .select(col("vec_id"), col("dim"),
            round(when(col("__var") > 0,
              (col("xi").cast("double") - col("__mean")) / sqrt(col("__var")))
              .otherwise(0.0), 8).as("z"))
      },
      Some("""WITH x AS (
             |  SELECT vec_id, CAST(g.i AS INTEGER) AS dim,
             |    CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 1000000.0) AS BIGINT) AS xi
             |  FROM embeddings, generate_series(1, 64) g(i)),
             |st AS (
             |  SELECT dim, count(*) AS n,
             |    CAST(sum(CAST(xi AS DECIMAL(38,0))) AS DOUBLE) AS s1,
             |    CAST(sum(CAST(xi AS DECIMAL(19,0)) * CAST(xi AS DECIMAL(19,0)))
             |      AS DOUBLE) AS s2
             |  FROM x GROUP BY 1),
             |sv AS (SELECT dim, s1 / n AS m,
             |    s2 / n - (s1 / n) * (s1 / n) AS v FROM st)
             |SELECT x.vec_id, x.dim,
             |  round(CASE WHEN v > 0
             |    THEN (CAST(xi AS DOUBLE) - m) / sqrt(v) ELSE 0.0 END, 8) AS z
             |FROM x JOIN sv ON x.dim = sv.dim""".stripMargin)),

    // two-stage compressed search over the JL projection: top-20
    // candidates by 16-dim projected cosine (4× cheaper pair work),
    // exact 64-dim cosine re-rank to top-5 — the JL sibling of the
    // IVF-PQ rerank pattern
    Q("similarity_jl_rerank",
      (s, dir) => Similarity.jlRerank(embeddings(s, dir), "vec_id",
          "embedding", dims = 64, outDims = 16, kCand = 20, k = 5)
        .withColumn("cosine", round(col("cosine"), 8) + lit(0.0)),
      Some("""WITH m AS (
             |  SELECT j, i,
             |    CASE WHEN CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || '_' ||
             |      CAST(i AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0
             |    THEN 1 ELSE -1 END AS s
             |  FROM generate_series(0, 15) g1(j), generate_series(1, 64) g2(i)),
             |x AS (
             |  SELECT vec_id, g.i AS i,
             |    CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 1000000.0) AS BIGINT) AS xi
             |  FROM embeddings, generate_series(1, 64) g(i)),
             |pj AS (
             |  SELECT x.vec_id, m.j,
             |    CAST(sum(x.xi * m.s) AS DOUBLE) / 1000000.0 * 0.25 AS v
             |  FROM x JOIN m ON x.i = m.i GROUP BY 1, 2),
             |pl AS (SELECT vec_id, list(v ORDER BY j) AS p FROM pj GROUP BY 1),
             |pn AS (SELECT vec_id,
             |    list_transform(generate_series(1, 16), i -> p[i] /
             |      sqrt(list_sum(list_transform(generate_series(1, 16),
             |        q -> p[q] * p[q])))) AS p
             |  FROM pl
             |  WHERE list_sum(list_transform(generate_series(1, 16),
             |    q -> p[q] * p[q])) > 0),
             |cand AS (
             |  SELECT a.vec_id, b.vec_id AS neighbor_id,
             |    list_sum(list_transform(generate_series(1, 16),
             |      i -> a.p[i] * b.p[i])) AS approx
             |  FROM pn a JOIN pn b ON a.vec_id <> b.vec_id),
             |top AS (
             |  SELECT vec_id, neighbor_id FROM (
             |    SELECT vec_id, neighbor_id, row_number() OVER
             |      (PARTITION BY vec_id ORDER BY approx DESC, neighbor_id) AS r
             |    FROM cand) WHERE r <= 20),
             |e0 AS (SELECT vec_id,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
             |  FROM embeddings),
             |e AS (SELECT vec_id,
             |    list_transform(generate_series(1, 64), i -> emb[i] /
             |      sqrt(list_sum(list_transform(generate_series(1, 64),
             |        j -> emb[j] * emb[j])))) AS e
             |  FROM e0
             |  WHERE list_sum(list_transform(generate_series(1, 64),
             |    j -> emb[j] * emb[j])) > 0),
             |sc AS (
             |  SELECT t.vec_id, t.neighbor_id,
             |    list_sum(list_transform(generate_series(1, 64),
             |      i -> ea.e[i] * eb.e[i])) AS cosine
             |  FROM top t JOIN e ea ON ea.vec_id = t.vec_id
             |    JOIN e eb ON eb.vec_id = t.neighbor_id)
             |SELECT vec_id, neighbor_id, round(cosine, 8) + 0.0 AS cosine,
             |  CAST(rank AS INTEGER) AS rank FROM (
             |  SELECT vec_id, neighbor_id, cosine, row_number() OVER
             |    (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS rank
             |  FROM sc) WHERE rank <= 5""".stripMargin)),

    // per-cell distance outliers: junk embeddings sit far from every
    // centroid — z-score the micro²-unit squared distance WITHIN the
    // trained cell (exact decimal sums of the bigint distances, single
    // double divisions → the 1.5σ boundary is bit-identical cross-engine)
    Q("embedding_outliers",
      (s, dir) => { val e = embeddings(s, dir)
        Similarity.cellOutliers(e, "vec_id", "embedding",
          k = Similarity.scaledCells(e), dims = 64, iters = 3, z = 1.5) },
      Some(s"""WITH ${kmeansCtes(8, 64, 3)},
             |xdd AS (SELECT id, list_transform(xi, v -> CAST(v AS DOUBLE) / 1000000.0) AS x FROM xq),
             |asgf AS (
             |  SELECT id, cell FROM (
             |    SELECT xdd.id, c.cent_id AS cell,
             |      row_number() OVER (PARTITION BY xdd.id ORDER BY
             |        list_sum(list_transform(generate_series(1, 64), i -> c.cx[i] * c.cx[i]))
             |        - 2 * list_sum(list_transform(generate_series(1, 64), i -> xdd.x[i] * c.cx[i])),
             |        c.cent_id) AS rn
             |    FROM xdd, cent3 c) WHERE rn = 1),
             |dd AS (
             |  SELECT xdd.id, a.cell,
             |    CAST(floor((
             |      list_sum(list_transform(generate_series(1, 64), i -> c.cx[i] * c.cx[i]))
             |      - 2 * list_sum(list_transform(generate_series(1, 64), i -> xdd.x[i] * c.cx[i]))
             |      + list_sum(list_transform(generate_series(1, 64), i -> xdd.x[i] * xdd.x[i]))
             |    ) * 1000000000.0) AS BIGINT) AS d2_micro
             |  FROM xdd JOIN asgf a ON a.id = xdd.id
             |    JOIN cent3 c ON c.cent_id = a.cell),
             |st AS (
             |  SELECT cell, count(*) AS n,
             |    CAST(sum(CAST(d2_micro AS DECIMAL(38,0))) AS DOUBLE) AS s1,
             |    CAST(sum(CAST(d2_micro AS DECIMAL(19,0)) *
             |      CAST(d2_micro AS DECIMAL(19,0))) AS DOUBLE) AS s2
             |  FROM dd GROUP BY 1),
             |sv AS (SELECT cell, s1 / n AS m,
             |    s2 / n - (s1 / n) * (s1 / n) AS v FROM st)
             |SELECT dd.id AS vec_id, dd.cell, d2_micro,
             |  CASE WHEN v > 0 THEN
             |    round((d2_micro - m) / sqrt(v), 8) END AS zscore,
             |  CAST(CASE WHEN v > 0 AND d2_micro > m + 1.5 * sqrt(v)
             |    THEN 1 ELSE 0 END AS INTEGER) AS is_outlier
             |FROM dd JOIN sv ON dd.cell = sv.cell""".stripMargin)),

    // simplified silhouette per trained cell (centroid-distance form,
    // O(n·k)): a = own-centroid distance, b = nearest-other, s = (b−a)/max.
    // The clustering-quality report for the IVF/SemDeDup stack. micro²
    // bigint distances, IEEE sqrt, round-9 decimal mean — oracle-exact.
    Q("cluster_silhouette",
      (s, dir) => { val e = embeddings(s, dir)
        Similarity.cellSilhouette(e, "vec_id", "embedding",
          k = Similarity.scaledCells(e), dims = 64, iters = 3) },
      Some(s"""WITH ${kmeansCtes(8, 64, 3)},
             |xdd AS (SELECT id, list_transform(xi, v -> CAST(v AS DOUBLE) / 1000000.0) AS x FROM xq),
             |asgf AS (
             |  SELECT id, cell FROM (
             |    SELECT xdd.id, c.cent_id AS cell,
             |      row_number() OVER (PARTITION BY xdd.id ORDER BY
             |        list_sum(list_transform(generate_series(1, 64), i -> c.cx[i] * c.cx[i]))
             |        - 2 * list_sum(list_transform(generate_series(1, 64), i -> xdd.x[i] * c.cx[i])),
             |        c.cent_id) AS rn
             |    FROM xdd, cent3 c) WHERE rn = 1),
             |dall AS (
             |  SELECT xdd.id, c.cent_id,
             |    CAST(floor((
             |      list_sum(list_transform(generate_series(1, 64), i -> c.cx[i] * c.cx[i]))
             |      - 2 * list_sum(list_transform(generate_series(1, 64), i -> xdd.x[i] * c.cx[i]))
             |      + list_sum(list_transform(generate_series(1, 64), i -> xdd.x[i] * xdd.x[i]))
             |    ) * 1000000000.0) AS BIGINT) AS d2
             |  FROM xdd, cent3 c),
             |ab AS (
             |  SELECT d.id, a.cell,
             |    max(CASE WHEN d.cent_id = a.cell THEN d.d2 END) AS a2,
             |    min(CASE WHEN d.cent_id <> a.cell THEN d.d2 END) AS b2
             |  FROM dall d JOIN asgf a ON a.id = d.id GROUP BY 1, 2),
             |sil AS (
             |  SELECT cell,
             |    CAST(round(CASE WHEN greatest(a2, b2) > 0 THEN
             |      (sqrt(CAST(b2 AS DOUBLE)) - sqrt(CAST(a2 AS DOUBLE)))
             |        / sqrt(CAST(greatest(a2, b2) AS DOUBLE))
             |      ELSE 0.0 END, 9) AS DECIMAL(20,9)) AS t
             |  FROM ab)
             |SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs,
             |  round(CAST(sum(t) AS DOUBLE) / count(*), 9) AS mean_sil
             |FROM sil GROUP BY 1""".stripMargin)),

    // IVF search under the TRAINED quantizer (kmeans cells, cosine re-rank)
    Q("similarity_ivf_trained",
      (s, dir) => { val e = embeddings(s, dir)
        Similarity.ivfTopKTrained(e, "vec_id",
          "embedding", nCentroids = Similarity.scaledCells(e), dims = 64,
          iters = 3, k = 5)
        .withColumn("cosine", round(col("cosine"), 8) + lit(0.0)) },
      Some(s"""WITH ${kmeansCtes(8, 64, 3)},
             |xdd AS (SELECT id, list_transform(xi, v -> CAST(v AS DOUBLE) / 1000000.0) AS x FROM xq),
             |asgf AS (
             |  SELECT id, cell FROM (
             |    SELECT xdd.id, c.cent_id AS cell,
             |      row_number() OVER (PARTITION BY xdd.id ORDER BY
             |        list_sum(list_transform(generate_series(1, 64), i -> c.cx[i] * c.cx[i]))
             |        - 2 * list_sum(list_transform(generate_series(1, 64), i -> xdd.x[i] * c.cx[i])),
             |        c.cent_id) AS rn
             |    FROM xdd, cent3 c) WHERE rn = 1),
             |e0 AS (SELECT vec_id,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
             |  FROM embeddings),
             |e AS (SELECT vec_id,
             |    list_transform(generate_series(1, 64), i -> emb[i] /
             |      sqrt(list_sum(list_transform(generate_series(1, 64),
             |        j -> emb[j] * emb[j])))) AS e
             |  FROM e0
             |  WHERE list_sum(list_transform(generate_series(1, 64),
             |    j -> emb[j] * emb[j])) > 0),
             |wc AS (SELECT e.vec_id, e.e, a.cell FROM e JOIN asgf a ON e.vec_id = a.id),
             |pairs AS (
             |  SELECT a.vec_id, a.cell, b.vec_id AS neighbor_id,
             |    list_sum(list_transform(generate_series(1, 64),
             |      i -> a.e[i] * b.e[i])) AS cosine
             |  FROM wc a JOIN wc b
             |    ON a.cell = b.cell AND a.vec_id <> b.vec_id)
             |SELECT vec_id, cell, neighbor_id, round(cosine, 8) + 0.0 AS cosine,
             |  CAST(rank AS INTEGER) AS rank FROM (
             |  SELECT vec_id, cell, neighbor_id, cosine, row_number() OVER
             |    (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS rank
             |  FROM pairs) WHERE rank <= 5""".stripMargin)),

    // PQ codebook assignment: 4 subspaces × 16 codewords over the raw
    // 64-dim embeddings (2 Lloyd rounds each, deterministic first-k seeds)
    Q("pq_codes",
      (s, dir) => Similarity.pqCodes(embeddings(s, dir), "vec_id", "embedding",
        dims = 64, m = 4, ksub = 16, iters = 2),
      Some(s"""WITH ${pqCtes(4, 16, 16, 2)}
             |SELECT id AS vec_id, sub, code FROM (
             |${(0 until 4).map(s =>
                 s"  SELECT id, $s AS sub, code FROM codes_$s").mkString("\n  UNION ALL\n")}
             |)""".stripMargin)),

    // IVF-PQ with asymmetric distance computation: coarse kmeans cells
    // (shared with kmeans_train via the model memo) + per-query LUT of
    // subvector·codeword inner products + m-lookup ADC scoring — the
    // billion-scale ANN layout (query never touches candidate vectors)
    Q("similarity_pq",
      (s, dir) => { val e = embeddings(s, dir)
        Similarity.pqTopK(e, "vec_id", "embedding",
          dims = 64, m = 4, ksub = 16, iters = 2,
          nCells = Similarity.scaledCells(e), cellIters = 3, k = 5)
        .withColumn("adc_dot", round(col("adc_dot"), 8) + lit(0.0)) },
      Some(s"""WITH $pqScoredCtes
             |SELECT vec_id, cell, neighbor_id, round(adc, 8) + 0.0 AS adc_dot,
             |  CAST(rank AS INTEGER) AS rank FROM (
             |  SELECT vec_id, cell, neighbor_id, adc, row_number() OVER
             |    (PARTITION BY vec_id ORDER BY adc DESC, neighbor_id) AS rank
             |  FROM scored) WHERE rank <= 5""".stripMargin)),

    // Two-stage ANN: IVF-PQ ADC candidates (top-10 by code distance) exact-
    // cosine re-ranked to top-3 — the canonical billion-scale serving shape
    // (full-precision vectors touched O(kCand) per query, never O(n))
    Q("similarity_pq_rerank",
      (s, dir) => { val e = embeddings(s, dir)
        Similarity.pqRerank(e, "vec_id", "embedding",
          dims = 64, m = 4, ksub = 16, iters = 2,
          nCells = Similarity.scaledCells(e), cellIters = 3,
          kCand = 10, k = 3)
        .withColumn("cosine", round(col("cosine"), 8) + lit(0.0)) },
      Some(s"""WITH $pqScoredCtes,
             |cand AS (
             |  SELECT vec_id, neighbor_id, CAST(rank AS INTEGER) AS adc_rank FROM (
             |    SELECT vec_id, neighbor_id, row_number() OVER
             |      (PARTITION BY vec_id ORDER BY adc DESC, neighbor_id) AS rank
             |    FROM scored) WHERE rank <= 10),
             |$enCte,
             |ex AS (
             |  SELECT c.vec_id, c.neighbor_id, c.adc_rank,
             |    list_sum(list_transform(generate_series(1, 64),
             |      i -> q.e[i] * d.e[i])) AS cosine
             |  FROM cand c JOIN en q ON q.vec_id = c.vec_id
             |  JOIN en d ON d.vec_id = c.neighbor_id)
             |SELECT vec_id, neighbor_id, adc_rank, round(cosine, 8) + 0.0 AS cosine,
             |  CAST(rank AS INTEGER) AS rank FROM (
             |  SELECT vec_id, neighbor_id, adc_rank, cosine, row_number() OVER
             |    (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS rank
             |  FROM ex) WHERE rank <= 3""".stripMargin)),

    // ANN quality evaluation: per-query recall@3 of the two-stage pipeline
    // vs the exact top-3 truth (same cosine, same tie-break). The QUERY side
    // is a FIXED-SIZE deterministic sample (every 4th vec_id below 2000 →
    // ≤500 queries at any corpus size) — the truth side is O(|sample|·n) by
    // construction, so a proportional sample would grow quadratically;
    // neighbors stay the full corpus
    Q("ann_recall",
      (s, dir) => { val e = embeddings(s, dir)
        Similarity.annRecall(e, "vec_id", "embedding",
          dims = 64, m = 4, ksub = 16, iters = 2,
          nCells = Similarity.scaledCells(e), cellIters = 3,
          kCand = 10, k = 3,
          querySlice = col("vec_id") % 4 === 0 && col("vec_id") < 2000) },
      Some(s"""WITH $pqScoredCtes,
             |cand AS (
             |  SELECT vec_id, neighbor_id FROM (
             |    SELECT vec_id, neighbor_id, row_number() OVER
             |      (PARTITION BY vec_id ORDER BY adc DESC, neighbor_id) AS rank
             |    FROM scored WHERE vec_id % 4 = 0 AND vec_id < 2000)
             |  WHERE rank <= 10),
             |$enCte,
             |rr AS (
             |  SELECT vec_id, neighbor_id FROM (
             |    SELECT c.vec_id, c.neighbor_id, row_number() OVER
             |      (PARTITION BY c.vec_id ORDER BY
             |        list_sum(list_transform(generate_series(1, 64),
             |          i -> q.e[i] * d.e[i])) DESC, c.neighbor_id) AS rank
             |    FROM cand c JOIN en q ON q.vec_id = c.vec_id
             |    JOIN en d ON d.vec_id = c.neighbor_id) WHERE rank <= 3),
             |truth AS MATERIALIZED (
             |  SELECT vec_id, neighbor_id FROM (
             |    SELECT a.vec_id, b.vec_id AS neighbor_id, row_number() OVER
             |      (PARTITION BY a.vec_id ORDER BY
             |        list_sum(list_transform(generate_series(1, 64),
             |          i -> a.e[i] * b.e[i])) DESC, b.vec_id) AS rank
             |    FROM en a JOIN en b ON a.vec_id <> b.vec_id
             |    WHERE a.vec_id % 4 = 0 AND a.vec_id < 2000) WHERE rank <= 3),
             |hits AS (
             |  SELECT rr.vec_id, count(*) AS nh
             |  FROM rr JOIN truth ON rr.vec_id = truth.vec_id
             |    AND rr.neighbor_id = truth.neighbor_id
             |  GROUP BY rr.vec_id)
             |SELECT t.vec_id, CAST(coalesce(h.nh, 0) AS INTEGER) AS n_hit,
             |  round(CAST(coalesce(h.nh, 0) AS DOUBLE) / CAST(t.nt AS DOUBLE), 9)
             |    AS recall
             |FROM (SELECT vec_id, count(*) AS nt FROM truth GROUP BY vec_id) t
             |LEFT JOIN hits h ON h.vec_id = t.vec_id""".stripMargin)),

    // maximal-marginal-relevance diverse top-5 (λ = 1/2) over the exact
    // top-12 candidates of a fixed query sample: rel/pair cosines rounded
    // to 8 BEFORE the greedy loop, λ = 1/2 ⇒ exact halvings, all argmax
    // ties break on candidate id — the oracle replays the 5-step greedy
    // selection as unrolled CTEs and both engines agree bitwise.
    Q("mmr_select",
      (s, dir) => Similarity.mmrSelect(embeddings(s, dir), "vec_id",
        "embedding", col("vec_id") % 97 === 0 && col("vec_id") < 9700,
        nCand = 12, m = 5),
      Some {
        val steps = (2 to 5).map { t =>
          s"""r$t AS (
             |  SELECT c.* FROM cand c LEFT JOIN a${t - 1} x
             |    ON x.qid = c.qid AND x.sel_id = c.cid
             |  WHERE x.sel_id IS NULL),
             |m$t AS (
             |  SELECT r.qid, r.cid, r.rel, max(p.sim) AS maxsim
             |  FROM r$t r JOIN a${t - 1} s ON s.qid = r.qid
             |  JOIN p ON p.qid = r.qid AND p.a = r.cid AND p.b = s.sel_id
             |  GROUP BY 1, 2, 3),
             |s$t AS (
             |  SELECT qid, cid AS sel_id, $t AS step, rel, maxsim,
             |    rel * 0.5 - maxsim * 0.5 AS ms
             |  FROM (SELECT *, row_number() OVER (PARTITION BY qid
             |      ORDER BY rel * 0.5 - maxsim * 0.5 DESC, cid) AS rn
             |    FROM m$t) WHERE rn = 1),
             |a$t AS (SELECT * FROM a${t - 1}
             |  UNION ALL SELECT qid, sel_id FROM s$t)""".stripMargin
        }.mkString(",\n")
        s"""WITH $enCte,
           |relx AS (
           |  SELECT q.vec_id AS qid, n.vec_id AS cid,
           |    list_sum(list_transform(generate_series(1, 64),
           |      i -> q.e[i] * n.e[i])) AS cosine
           |  FROM en q JOIN en n ON n.vec_id <> q.vec_id
           |  WHERE q.vec_id % 97 = 0 AND q.vec_id < 9700),
           |cand AS MATERIALIZED (
           |  SELECT qid, cid, round(cosine, 8) AS rel FROM (
           |    SELECT *, row_number() OVER (PARTITION BY qid
           |      ORDER BY cosine DESC, cid) AS rn FROM relx)
           |  WHERE rn <= 12),
           |p AS MATERIALIZED (
           |  SELECT ca.qid, ca.cid AS a, cb.cid AS b,
           |    round(list_sum(list_transform(generate_series(1, 64),
           |      i -> ea.e[i] * eb.e[i])), 8) AS sim
           |  FROM cand ca JOIN cand cb ON ca.qid = cb.qid AND ca.cid <> cb.cid
           |  JOIN en ea ON ea.vec_id = ca.cid
           |  JOIN en eb ON eb.vec_id = cb.cid),
           |s1 AS (
           |  SELECT qid, cid AS sel_id, 1 AS step, rel,
           |    0.0 AS maxsim, rel * 0.5 AS ms
           |  FROM (SELECT *, row_number() OVER (PARTITION BY qid
           |      ORDER BY rel DESC, cid) AS rn FROM cand) WHERE rn = 1),
           |a1 AS (SELECT qid, sel_id FROM s1),
           |$steps
           |SELECT qid AS vec_id, CAST(step AS INTEGER) AS step,
           |  sel_id AS selected_id, rel, maxsim, round(ms, 9) AS mmr_score
           |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
           |  UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
           |  UNION ALL SELECT * FROM s5)""".stripMargin
      }),

    // ranking-quality eval of the two-stage ANN path: MRR + nDCG@3 vs the
    // exact top-3 truth (binary relevance), discount terms round-9
    // DECIMAL-summed, IDCG the same quantized sum over ranks 1..3.
    Q("retrieval_mrr",
      (s, dir) => { val e = embeddings(s, dir)
        Similarity.retrievalMrr(e, "vec_id", "embedding",
          dims = 64, m = 4, ksub = 16, iters = 2,
          nCells = Similarity.scaledCells(e), cellIters = 3,
          kCand = 10, k = 3,
          querySlice = col("vec_id") % 4 === 0 && col("vec_id") < 2000) },
      Some(s"""WITH $pqScoredCtes,
             |cand AS (
             |  SELECT vec_id, neighbor_id FROM (
             |    SELECT vec_id, neighbor_id, row_number() OVER
             |      (PARTITION BY vec_id ORDER BY adc DESC, neighbor_id) AS rank
             |    FROM scored WHERE vec_id % 4 = 0 AND vec_id < 2000)
             |  WHERE rank <= 10),
             |$enCte,
             |rr AS (
             |  SELECT vec_id, neighbor_id, rank FROM (
             |    SELECT c.vec_id, c.neighbor_id, row_number() OVER
             |      (PARTITION BY c.vec_id ORDER BY
             |        list_sum(list_transform(generate_series(1, 64),
             |          i -> q.e[i] * d.e[i])) DESC, c.neighbor_id) AS rank
             |    FROM cand c JOIN en q ON q.vec_id = c.vec_id
             |    JOIN en d ON d.vec_id = c.neighbor_id) WHERE rank <= 3),
             |truth AS MATERIALIZED (
             |  SELECT vec_id, neighbor_id FROM (
             |    SELECT a.vec_id, b.vec_id AS neighbor_id, row_number() OVER
             |      (PARTITION BY a.vec_id ORDER BY
             |        list_sum(list_transform(generate_series(1, 64),
             |          i -> a.e[i] * b.e[i])) DESC, b.vec_id) AS rank
             |    FROM en a JOIN en b ON a.vec_id <> b.vec_id
             |    WHERE a.vec_id % 4 = 0 AND a.vec_id < 2000) WHERE rank <= 3),
             |j AS (
             |  SELECT rr.vec_id, rr.rank,
             |    CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS hit
             |  FROM rr LEFT JOIN truth t ON t.vec_id = rr.vec_id
             |    AND t.neighbor_id = rr.neighbor_id),
             |idcg AS (
             |  SELECT sum(CAST(round(1.0 / log2(i + 1), 9) AS DECIMAL(20,9)))
             |    AS v
             |  FROM generate_series(1, 3) g(i)),
             |agg AS (
             |  SELECT vec_id,
             |    min(CASE WHEN hit = 1 THEN rank END) AS fhr,
             |    sum(CASE WHEN hit = 1
             |        THEN CAST(round(1.0 / log2(rank + 1), 9) AS DECIMAL(20,9))
             |        ELSE CAST(0 AS DECIMAL(20,9)) END) AS dcg
             |  FROM j GROUP BY 1)
             |SELECT vec_id, CAST(fhr AS INTEGER) AS first_hit_rank,
             |  round(coalesce(1.0 / fhr, 0.0), 9) AS mrr,
             |  CAST(dcg AS DOUBLE) AS dcg,
             |  round(CAST(dcg AS DOUBLE) / CAST(idcg.v AS DOUBLE), 9) AS ndcg
             |FROM agg, idcg""".stripMargin)),

    // IVF-PQ with residual encoding — codebooks trained on r = x − c(cell);
    // ADC adds the exact query·centroid term to the m residual LUT lookups
    Q("similarity_pq_residual",
      (s, dir) => { val e = embeddings(s, dir)
        Similarity.pqTopKResidual(e, "vec_id",
          "embedding", dims = 64, m = 4, ksub = 16, iters = 2,
          nCells = Similarity.scaledCells(e), cellIters = 3, k = 5)
        .withColumn("adc_dot", round(col("adc_dot"), 8) + lit(0.0)) },
      Some(s"""WITH ${kmeansCtes(8, 64, 3)},
             |xdd AS (SELECT id, list_transform(xi, v -> CAST(v AS DOUBLE) / 1000000.0) AS x FROM xq),
             |asgf AS (
             |  SELECT id, cell FROM (
             |    SELECT xdd.id, c.cent_id AS cell,
             |      row_number() OVER (PARTITION BY xdd.id ORDER BY
             |        list_sum(list_transform(generate_series(1, 64), i -> c.cx[i] * c.cx[i]))
             |        - 2 * list_sum(list_transform(generate_series(1, 64), i -> xdd.x[i] * c.cx[i])),
             |        c.cent_id) AS rn
             |    FROM xdd, cent3 c) WHERE rn = 1),
             |$edCte,
             |res AS MATERIALIZED (
             |  SELECT ed.id, a.cell,
             |    list_sum(list_transform(generate_series(1, 64),
             |      i -> ed.e[i] * c.cx[i])) AS qdot,
             |    list_transform(generate_series(1, 64),
             |      i -> ed.e[i] - c.cx[i]) AS r
             |  FROM ed JOIN asgf a ON ed.id = a.id
             |  JOIN cent3 c ON c.cent_id = a.cell)${
               pqCtes(4, 16, 16, 2, src = "res", vcol = "r", emitEd = false)},
             |${(0 until 4).map(s =>
                 s"""lut_$s AS (SELECT ed.id AS q_id, c.cent_id AS code,
                    |    list_sum(list_transform(generate_series(1, 16),
                    |      i -> ed.e[${s * 16} + i] * c.cx[i])) AS part
                    |  FROM ed, cent2_$s c)""".stripMargin).mkString(",\n")},
             |prs AS (
             |  SELECT q.id AS vec_id, q.cell, q.qdot, d.id AS neighbor_id
             |  FROM res q JOIN res d ON q.cell = d.cell AND q.id <> d.id),
             |scored AS (
             |  SELECT p.vec_id, p.cell, p.neighbor_id,
             |    ((((p.qdot + l0.part) + l1.part) + l2.part) + l3.part) AS adc
             |  FROM prs p
             |  JOIN codes_0 c0 ON c0.id = p.neighbor_id
             |  JOIN lut_0 l0 ON l0.q_id = p.vec_id AND l0.code = c0.code
             |  JOIN codes_1 c1 ON c1.id = p.neighbor_id
             |  JOIN lut_1 l1 ON l1.q_id = p.vec_id AND l1.code = c1.code
             |  JOIN codes_2 c2 ON c2.id = p.neighbor_id
             |  JOIN lut_2 l2 ON l2.q_id = p.vec_id AND l2.code = c2.code
             |  JOIN codes_3 c3 ON c3.id = p.neighbor_id
             |  JOIN lut_3 l3 ON l3.q_id = p.vec_id AND l3.code = c3.code)
             |SELECT vec_id, cell, neighbor_id, round(adc, 8) + 0.0 AS adc_dot,
             |  CAST(rank AS INTEGER) AS rank FROM (
             |  SELECT vec_id, cell, neighbor_id, adc, row_number() OVER
             |    (PARTITION BY vec_id ORDER BY adc DESC, neighbor_id) AS rank
             |  FROM scored) WHERE rank <= 5""".stripMargin)),

    // SQ8 scalar quantization (FAISS QT_8bit layout): per-dim [mn,mx]
    // trained in one map-side-combinable agg, q = round(255·(x−mn)/span).
    // qsum makes the codes exactly oracle-visible; mse/max_abs_err bound
    // the reconstruction loss of the 4×-smaller representation.
    Q("embed_sq8",
      (s, dir) => Similarity.sq8ReconStats(embeddings(s, dir), "vec_id",
        "embedding", dims = 64),
      Some(s"""WITH $sq8Ctes,
             |er AS (SELECT ed.id,
             |    list_transform(generate_series(1, 64),
             |      i -> abs(ed.e[i] - (mml.mn[i] +
             |        qc.q[i] * (mml.mx[i] - mml.mn[i]) / 255.0))) AS errs,
             |    qc.q AS q
             |  FROM ed JOIN qc ON qc.id = ed.id, mml)
             |SELECT id AS vec_id,
             |  CAST(list_sum(q) AS BIGINT) AS qsum,
             |  round(list_sum(list_transform(errs, v -> v * v)) / 64.0, 9) AS mse,
             |  round(list_max(errs), 9) AS max_abs_err
             |FROM er""".stripMargin)),

    // IVF-SQ8 top-k: coarse cells shared with the other IVF paths, scoring
    // = pure-INTEGER dot over the 8-bit codes — exact across engines (no
    // float accumulation), dims bytes touched per candidate
    Q("similarity_sq8",
      // corpus-scaled nCells (floors to the oracle's 8 at gate scale):
      // bounded cell population keeps the per-cell integer-dot scan linear
      // in corpus size — see Similarity.scaledCells
      (s, dir) => { val e = embeddings(s, dir)
        Similarity.sq8TopK(e, "vec_id",
          "embedding", dims = 64, nCells = Similarity.scaledCells(e),
          cellIters = 3, k = 5) },
      Some(s"""WITH ${kmeansCtes(8, 64, 3)},
             |xdd AS (SELECT id, list_transform(xi, v -> CAST(v AS DOUBLE) / 1000000.0) AS x FROM xq),
             |asgf AS (
             |  SELECT id, cell FROM (
             |    SELECT xdd.id, c.cent_id AS cell,
             |      row_number() OVER (PARTITION BY xdd.id ORDER BY
             |        list_sum(list_transform(generate_series(1, 64), i -> c.cx[i] * c.cx[i]))
             |        - 2 * list_sum(list_transform(generate_series(1, 64), i -> xdd.x[i] * c.cx[i])),
             |        c.cent_id) AS rn
             |    FROM xdd, cent3 c) WHERE rn = 1),
             |$sq8Ctes,
             |prs AS (
             |  SELECT q.id AS vec_id, q.cell, d.id AS neighbor_id,
             |    CAST(list_sum(list_transform(generate_series(1, 64),
             |      i -> cq.q[i] * cd.q[i])) AS BIGINT) AS qdot
             |  FROM asgf q JOIN asgf d ON q.cell = d.cell AND q.id <> d.id
             |  JOIN qc cq ON cq.id = q.id
             |  JOIN qc cd ON cd.id = d.id)
             |SELECT vec_id, cell, neighbor_id, qdot,
             |  CAST(rank AS INTEGER) AS rank FROM (
             |  SELECT vec_id, cell, neighbor_id, qdot, row_number() OVER
             |    (PARTITION BY vec_id ORDER BY qdot DESC, neighbor_id) AS rank
             |  FROM prs) WHERE rank <= 5""".stripMargin)),

    // hard-negative mining: top-3 most-similar DIFFERENT-label neighbors
    // per vector (contrastive-batch construction), candidates scoped to
    // the shared k-means cells
    Q("hard_negatives",
      (s, dir) => { val e = embeddings(s, dir)
        Similarity.hardNegatives(e, "vec_id",
          "embedding", "label", dims = 64,
          nCells = Similarity.scaledCells(e), iters = 3, k = 3)
        .withColumn("cosine", round(col("cosine"), 8) + lit(0.0)) },
      Some(s"""WITH ${kmeansCtes(8, 64, 3)},
             |xdd AS (SELECT id, list_transform(xi, v -> CAST(v AS DOUBLE) / 1000000.0) AS x FROM xq),
             |asgf AS (
             |  SELECT id, cell FROM (
             |    SELECT xdd.id, c.cent_id AS cell,
             |      row_number() OVER (PARTITION BY xdd.id ORDER BY
             |        list_sum(list_transform(generate_series(1, 64), i -> c.cx[i] * c.cx[i]))
             |        - 2 * list_sum(list_transform(generate_series(1, 64), i -> xdd.x[i] * c.cx[i])),
             |        c.cent_id) AS rn
             |    FROM xdd, cent3 c) WHERE rn = 1),
             |e0 AS (SELECT vec_id, label,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
             |  FROM embeddings),
             |e AS (SELECT vec_id, label,
             |    list_transform(generate_series(1, 64), i -> emb[i] /
             |      sqrt(list_sum(list_transform(generate_series(1, 64),
             |        j -> emb[j] * emb[j])))) AS e
             |  FROM e0
             |  WHERE list_sum(list_transform(generate_series(1, 64),
             |    j -> emb[j] * emb[j])) > 0),
             |wc AS (SELECT e.vec_id, e.label, e.e, a.cell
             |  FROM e JOIN asgf a ON e.vec_id = a.id),
             |prs AS (
             |  SELECT a.vec_id, a.label, b.vec_id AS neighbor_id,
             |    b.label AS neg_label,
             |    list_sum(list_transform(generate_series(1, 64),
             |      i -> a.e[i] * b.e[i])) AS cosine
             |  FROM wc a JOIN wc b
             |    ON a.cell = b.cell AND a.vec_id <> b.vec_id
             |    AND a.label <> b.label)
             |SELECT vec_id, label, neighbor_id, neg_label,
             |  round(cosine, 8) + 0.0 AS cosine, CAST(rank AS INTEGER) AS rank FROM (
             |  SELECT vec_id, label, neighbor_id, neg_label, cosine,
             |    row_number() OVER (PARTITION BY vec_id
             |      ORDER BY cosine DESC, neighbor_id) AS rank
             |  FROM prs) WHERE rank <= 3""".stripMargin)),

    // SemDeDup: k-means clusters scope the cosine pair work; drop a vector
    // iff a lower-id cluster-mate is within tau — kept rows survive
    Q("semdedup",
      (s, dir) => Dedup.semDedup(embeddings(s, dir), "vec_id", "embedding",
        dims = 64, nCells = 8, iters = 3, tau = 0.25),
      Some(s"""WITH ${kmeansCtes(8, 64, 3)},
             |xdd AS (SELECT id, list_transform(xi, v -> CAST(v AS DOUBLE) / 1000000.0) AS x FROM xq),
             |asgf AS (
             |  SELECT id, cell FROM (
             |    SELECT xdd.id, c.cent_id AS cell,
             |      row_number() OVER (PARTITION BY xdd.id ORDER BY
             |        list_sum(list_transform(generate_series(1, 64), i -> c.cx[i] * c.cx[i]))
             |        - 2 * list_sum(list_transform(generate_series(1, 64), i -> xdd.x[i] * c.cx[i])),
             |        c.cent_id) AS rn
             |    FROM xdd, cent3 c) WHERE rn = 1),
             |e0 AS (SELECT vec_id,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
             |  FROM embeddings),
             |e AS (SELECT vec_id,
             |    list_transform(generate_series(1, 64), i -> emb[i] /
             |      sqrt(list_sum(list_transform(generate_series(1, 64),
             |        j -> emb[j] * emb[j])))) AS e
             |  FROM e0
             |  WHERE list_sum(list_transform(generate_series(1, 64),
             |    j -> emb[j] * emb[j])) > 0),
             |wc AS (SELECT e.vec_id, e.e, a.cell FROM e JOIN asgf a ON e.vec_id = a.id),
             |rem AS (
             |  SELECT DISTINCT b.vec_id FROM wc a JOIN wc b
             |    ON a.cell = b.cell AND a.vec_id < b.vec_id
             |    AND list_sum(list_transform(generate_series(1, 64),
             |      i -> a.e[i] * b.e[i])) >= 0.25)
             |SELECT a.id AS vec_id, a.cell FROM asgf a
             |WHERE a.id NOT IN (SELECT vec_id FROM rem)""".stripMargin)),

    Q("similarity_topk",
      (s, dir) => Similarity.bruteTopK(embeddings(s, dir), "vec_id", "embedding", 5)
        .withColumn("cosine", round(col("cosine"), 8) + lit(0.0)),
      // cosine computed EXACTLY as the Spark side does it — normalize
      // each vector, THEN dot (divide-late (a·b)/(|a||b|) differs in the
      // last ulp, and a rounded-equal tie at the top-k boundary then
      // rank-swaps between engines; fuzz seed 12 caught it)
      Some(s"""WITH $enCte,
             |pairs AS (
             |  SELECT a.vec_id, b.vec_id AS neighbor_id,
             |    list_sum(list_transform(generate_series(1, 64),
             |      i -> a.e[i] * b.e[i])) AS cosine
             |  FROM en a JOIN en b ON a.vec_id <> b.vec_id)
             |SELECT vec_id, neighbor_id, round(cosine, 8) + 0.0 AS cosine,
             |  CAST(rank AS INTEGER) AS rank FROM (
             |  SELECT vec_id, neighbor_id, cosine, row_number() OVER
             |    (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS rank
             |  FROM pairs) WHERE rank <= 5""".stripMargin)),

    Q("similarity_lsh",
      (s, dir) => Similarity.lshTopK(embeddings(s, dir), "vec_id", "embedding",
        dims = 64, bits = 8, k = 5)
        .withColumn("cosine", round(col("cosine"), 8) + lit(0.0)),
      // buckets from the RAW doubles, cosine normalize-early — both
      // exactly the Spark side's arithmetic (see similarity_topk note)
      Some(s"""WITH $enCte,
             |sigbits AS (
             |  SELECT vec_id, g.j,
             |    CASE WHEN list_sum(list_transform(generate_series(1, 64),
             |        i -> emb[i] * sin((g.j + 1) * 1.0 * i))) > 0
             |      THEN (1::BIGINT << g.j) ELSE 0 END AS bit
             |  FROM e0n, generate_series(0, 7) g(j)),
             |sig AS (
             |  SELECT b.vec_id, en.e, b.bucket FROM
             |    (SELECT vec_id, CAST(sum(bit) AS BIGINT) AS bucket
             |     FROM sigbits GROUP BY vec_id) b
             |    JOIN en ON b.vec_id = en.vec_id),
             |pairs AS (
             |  SELECT a.vec_id, a.bucket, b.vec_id AS neighbor_id,
             |    list_sum(list_transform(generate_series(1, 64),
             |      i -> a.e[i] * b.e[i])) AS cosine
             |  FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id)
             |SELECT vec_id, bucket, neighbor_id, round(cosine, 8) + 0.0 AS cosine,
             |  CAST(rank AS INTEGER) AS rank FROM (
             |  SELECT vec_id, bucket, neighbor_id, cosine, row_number() OVER
             |    (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS rank
             |  FROM pairs) WHERE rank <= 5""".stripMargin)),

    Q("similarity_ivf",
      (s, dir) => { val e = embeddings(s, dir)
        Similarity.ivfTopK(e, "vec_id", "embedding",
          nCentroids = Similarity.scaledCells(e), k = 5)
        .withColumn("cosine", round(col("cosine"), 8) + lit(0.0)) },
      Some("""WITH e0 AS (SELECT vec_id,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
             |  FROM embeddings),
             |e AS (SELECT vec_id,
             |    list_transform(generate_series(1, 64), i -> emb[i] /
             |      sqrt(list_sum(list_transform(generate_series(1, 64),
             |        j -> emb[j] * emb[j])))) AS e
             |  FROM e0
             |  WHERE list_sum(list_transform(generate_series(1, 64),
             |    j -> emb[j] * emb[j])) > 0),
             |cents AS (SELECT vec_id AS cent_id, e AS ce FROM e WHERE vec_id < 8),
             |assigned AS (
             |  SELECT vec_id, e, cell FROM (
             |    SELECT a.vec_id, a.e, c.cent_id AS cell,
             |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
             |        list_sum(list_transform(generate_series(1, 64),
             |          i -> a.e[i] * c.ce[i])) DESC, c.cent_id) AS rn
             |    FROM e a, cents c)
             |  WHERE rn = 1),
             |pairs AS (
             |  SELECT a.vec_id, a.cell, b.vec_id AS neighbor_id,
             |    list_sum(list_transform(generate_series(1, 64),
             |      i -> a.e[i] * b.e[i])) AS cosine
             |  FROM assigned a JOIN assigned b
             |    ON a.cell = b.cell AND a.vec_id <> b.vec_id)
             |SELECT vec_id, cell, neighbor_id, round(cosine, 8) + 0.0 AS cosine,
             |  CAST(rank AS INTEGER) AS rank FROM (
             |  SELECT vec_id, cell, neighbor_id, cosine, row_number() OVER
             |    (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS rank
             |  FROM pairs) WHERE rank <= 5""".stripMargin)),

    // multi-probe IVF: queries probe their 2 nearest cells (the standard
    // recall lever); the index side stays single-cell
    Q("similarity_ivf_probe",
      (s, dir) => { val e = embeddings(s, dir)
        Similarity.ivfTopK(e, "vec_id", "embedding",
          nCentroids = Similarity.scaledCells(e), k = 5, nprobe = 2)
        .withColumn("cosine", round(col("cosine"), 8) + lit(0.0)) },
      Some("""WITH e0 AS (SELECT vec_id,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
             |  FROM embeddings),
             |e AS (SELECT vec_id,
             |    list_transform(generate_series(1, 64), i -> emb[i] /
             |      sqrt(list_sum(list_transform(generate_series(1, 64),
             |        j -> emb[j] * emb[j])))) AS e
             |  FROM e0
             |  WHERE list_sum(list_transform(generate_series(1, 64),
             |    j -> emb[j] * emb[j])) > 0),
             |cents AS (SELECT vec_id AS cent_id, e AS ce FROM e WHERE vec_id < 8),
             |ranked AS (
             |  SELECT a.vec_id, a.e, c.cent_id AS cell,
             |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
             |      list_sum(list_transform(generate_series(1, 64),
             |        i -> a.e[i] * c.ce[i])) DESC, c.cent_id) AS rn
             |  FROM e a, cents c),
             |assigned AS (SELECT vec_id, e, cell FROM ranked WHERE rn = 1),
             |probed AS (SELECT vec_id, e, cell FROM ranked WHERE rn <= 2),
             |pairs AS (
             |  SELECT a.vec_id, a.cell, b.vec_id AS neighbor_id,
             |    list_sum(list_transform(generate_series(1, 64),
             |      i -> a.e[i] * b.e[i])) AS cosine
             |  FROM probed a JOIN assigned b
             |    ON a.cell = b.cell AND a.vec_id <> b.vec_id)
             |SELECT vec_id, cell, neighbor_id, round(cosine, 8) + 0.0 AS cosine,
             |  CAST(rank AS INTEGER) AS rank FROM (
             |  SELECT vec_id, cell, neighbor_id, cosine, row_number() OVER
             |    (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS rank
             |  FROM pairs) WHERE rank <= 5""".stripMargin)),

    // ---- text analysis ----------------------------------------------
    // corpus-trained char-bigram LM fluency score (add-one smoothing);
    // per-bigram log-probs rounded to 9 decimals and decimal-summed, so
    // the per-doc mean is summation-order-independent on both engines
    // CCNet-style per-domain quality filtering: drop each source's bottom
    // 20% by LM fluency score. The per-source percentile threshold comes
    // from the score HISTOGRAM + cumulative window (bounded by distinct
    // score values, not corpus size) — no data-sized window, and the
    // LM scores themselves are bitwise engine-identical (decimal-summed),
    // so the cut lands on the same documents in both engines
    Q("quality_percentile_filter",
      (s, dir) => {
        val scored = TA.charBigramLmScore(documents(s, dir), "doc_id", "text")
          .join(documents(s, dir).select("doc_id", "source"), "doc_id")
        val hist = scored.groupBy("source", "lm_score").agg(count(lit(1)).as("c"))
        val byVal = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy("lm_score")
        val all = org.apache.spark.sql.expressions.Window.partitionBy("source")
        val thresh = hist.withColumn("cum", sum("c").over(byVal))
          .withColumn("n", sum("c").over(all))
          .groupBy("source")
          .agg(min(when(col("cum") >= expr("(n + 4) div 5"), col("lm_score")))
            .as("t20"))
        scored.join(thresh, "source")
          .filter(col("lm_score") >= col("t20"))
          .select("doc_id", "source", "lm_score")
      },
      Some("""WITH pos AS (
             |  SELECT doc_id, text, unnest(generate_series(1, greatest(length(text)-1, 1))) AS i
             |  FROM documents),
             |bg AS (SELECT doc_id, substr(text, i, 2) AS bg FROM pos
             |  WHERE length(substr(text, i, 2)) = 2),
             |counts AS (SELECT bg, count(*) AS cnt FROM bg GROUP BY bg),
             |c1t AS (SELECT substr(bg, 1, 1) AS c1, CAST(sum(cnt) AS BIGINT) AS tot
             |  FROM counts GROUP BY 1),
             |vv AS (SELECT count(DISTINCT substr(bg, 2, 1)) AS v FROM counts),
             |sc AS (SELECT b.doc_id,
             |    CAST(round(ln((c.cnt + 1) / (t.tot + vv.v)), 9) AS DECIMAL(20,9)) AS lp
             |  FROM bg b JOIN counts c USING (bg)
             |  JOIN c1t t ON t.c1 = substr(b.bg, 1, 1), vv),
             |scored AS MATERIALIZED (
             |  SELECT s.doc_id, d.source,
             |    CAST(sum(s.lp) AS DOUBLE)/count(*) AS lm_score
             |  FROM sc s JOIN documents d ON s.doc_id = d.doc_id
             |  GROUP BY s.doc_id, d.source),
             |h AS (SELECT source, lm_score, count(*) AS c FROM scored GROUP BY 1, 2),
             |cw AS (
             |  SELECT source, lm_score,
             |    sum(c) OVER (PARTITION BY source ORDER BY lm_score
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             |    sum(c) OVER (PARTITION BY source) AS n
             |  FROM h),
             |th AS (SELECT source,
             |    min(CASE WHEN cum >= (n + 4) // 5 THEN lm_score END) AS t20
             |  FROM cw GROUP BY source)
             |SELECT s.doc_id, s.source, s.lm_score
             |FROM scored s JOIN th ON s.source = th.source
             |WHERE s.lm_score >= th.t20""".stripMargin)),

    // reciprocal-rank fusion of the quality stack (Cormack et al. 2009):
    // three independent signals — char-bigram LM fluency (desc), heuristic
    // quality (desc), 3-gram repetition (asc) — each ranked per source
    // (windows stay partition-bounded), fused as Σ 1/(60 + rank), top-50
    // kept per source. Rank fusion is robust to the signals' different
    // scales — the canonical way to combine filter-stack scores without
    // calibrating them; doc_id tie-breaks make every rank engine-exact.
    Q("quality_rank_fusion",
      (s, dir) => {
        val docs = documents(s, dir)
        // byKey before the interpreted HOF projection: the small parquet
        // reads as few input splits, and qualityScore + dup_frac are
        // per-row lambda work that must spread across cores (the KMV
        // lesson, Sketches scaladoc)
        val sig = TA.charBigramLmScore(docs, "doc_id", "text")
          .join(graft.ops.Spread.byKey(docs, col("doc_id"))
            .select(col("doc_id"), col("source"),
              round(TA.qualityScore(col("text")), 8).as("quality"),
              round(TA.repetitionFraction(col("text"), 3), 8)
                .as("dup_frac")), "doc_id")
        import org.apache.spark.sql.expressions.Window
        val wLm = Window.partitionBy("source")
          .orderBy(col("lm_score").desc, col("doc_id"))
        val wQ = Window.partitionBy("source")
          .orderBy(col("quality").desc, col("doc_id"))
        val wR = Window.partitionBy("source")
          .orderBy(col("dup_frac").asc, col("doc_id"))
        // materialization point before the final top-k window: with the
        // filter(rank<=50) above a live 4-window tree, Spark re-executes
        // the whole LM sub-pipeline instead of reusing its cache (measured
        // 14 s vs 0.3 s at sf1 — SCALING.md); sharing the fused
        // scores (1 row/doc) makes the final ranking read 50k rows, not
        // 15M bigrams
        val fused = graft.ops.Spread.shared(sig
          .withColumn("r_lm", row_number().over(wLm))
          .withColumn("r_q", row_number().over(wQ))
          .withColumn("r_rep", row_number().over(wR))
          .withColumn("rrf", round(
            lit(1.0) / (lit(60.0) + col("r_lm")) +
            lit(1.0) / (lit(60.0) + col("r_q")) +
            lit(1.0) / (lit(60.0) + col("r_rep")), 9)))
        val wF = Window.partitionBy("source")
          .orderBy(col("rrf").desc, col("doc_id"))
        fused.withColumn("rank", row_number().over(wF))
          .filter(col("rank") <= 50)
          .select("doc_id", "source", "r_lm", "r_q", "r_rep", "rrf", "rank")
      },
      Some("""WITH pos AS (
             |  SELECT doc_id, text, unnest(generate_series(1, greatest(length(text)-1, 1))) AS i
             |  FROM documents),
             |bg AS (SELECT doc_id, substr(text, i, 2) AS bg FROM pos
             |  WHERE length(substr(text, i, 2)) = 2),
             |counts AS (SELECT bg, count(*) AS cnt FROM bg GROUP BY bg),
             |c1t AS (SELECT substr(bg, 1, 1) AS c1, CAST(sum(cnt) AS BIGINT) AS tot
             |  FROM counts GROUP BY 1),
             |vv AS (SELECT count(DISTINCT substr(bg, 2, 1)) AS v FROM counts),
             |sc AS (SELECT b.doc_id,
             |    CAST(round(ln((c.cnt + 1) / (t.tot + vv.v)), 9) AS DECIMAL(20,9)) AS lp
             |  FROM bg b JOIN counts c USING (bg)
             |  JOIN c1t t ON t.c1 = substr(b.bg, 1, 1), vv),
             |lm AS (SELECT doc_id, CAST(sum(lp) AS DOUBLE)/count(*) AS lm_score
             |  FROM sc GROUP BY doc_id),
             |t AS (SELECT doc_id, source, text, length(text) AS nc,
             |    list_filter(string_split(text, ' '), x -> length(x) > 0) AS toks
             |  FROM documents),
             |qy AS (SELECT doc_id,
             |    round((CASE WHEN nc BETWEEN 100 AND 400 THEN 1.0
             |          WHEN nc < 100 THEN CAST(nc AS DOUBLE) / 100.0
             |          ELSE 400.0 / nc END) * 0.6 +
             |      (CASE WHEN CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(toks)
             |          BETWEEN 3.0 AND 8.0 THEN 1.0 ELSE 0.5 END) * 0.4, 8) AS quality
             |  FROM t),
             |g AS (SELECT doc_id, CASE WHEN len(toks) >= 3 THEN
             |    list_transform(generate_series(1, len(toks) - 2),
             |      i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
             |    ELSE [] END AS grams
             |  FROM t),
             |rp AS (SELECT doc_id, round(CASE WHEN len(grams) > 0 THEN
             |    CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE) / len(grams)
             |    ELSE 0.0 END, 8) AS dup_frac
             |  FROM g),
             |sig AS (SELECT d.doc_id, d.source, lm.lm_score, qy.quality, rp.dup_frac
             |  FROM documents d JOIN lm USING (doc_id)
             |    JOIN qy USING (doc_id) JOIN rp USING (doc_id)),
             |rk AS (SELECT doc_id, source,
             |    row_number() OVER (PARTITION BY source ORDER BY lm_score DESC, doc_id) AS r_lm,
             |    row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS r_q,
             |    row_number() OVER (PARTITION BY source ORDER BY dup_frac ASC, doc_id) AS r_rep
             |  FROM sig),
             |fz AS (SELECT doc_id, source, r_lm, r_q, r_rep,
             |    round(1e0/(60e0 + r_lm) + 1e0/(60e0 + r_q) + 1e0/(60e0 + r_rep), 9) AS rrf
             |  FROM rk)
             |SELECT doc_id, source, CAST(r_lm AS INTEGER) AS r_lm,
             |  CAST(r_q AS INTEGER) AS r_q, CAST(r_rep AS INTEGER) AS r_rep,
             |  rrf, CAST(rank AS INTEGER) AS rank FROM (
             |  SELECT *, row_number() OVER
             |    (PARTITION BY source ORDER BY rrf DESC, doc_id) AS rank
             |  FROM fz) WHERE rank <= 50""".stripMargin)),

    // exact per-source quantile transform of a score (the rank-based
    // normalization that makes scores comparable across sources): reduce
    // to a (source, value) histogram first (map-side combine), cumulative
    // count over HISTOGRAM rows (bounded by distinct values, not corpus
    // size), then q = (cum_below + (c+1)/2 − 1) / n — the average-rank
    // percentile, exact in integer arithmetic ×2 to avoid halves
    Q("quantile_transform",
      (s, dir) => {
        val d = documents(s, dir).select(col("doc_id"), col("source"),
          col("n_chars"))
        val hist = d.groupBy("source", "n_chars").agg(count(lit(1)).as("c"))
        import org.apache.spark.sql.expressions.Window
        val byVal = Window.partitionBy("source").orderBy("n_chars")
        val all = Window.partitionBy("source")
        val cum = hist.withColumn("cumi", sum("c").over(byVal))
          .withColumn("n", sum("c").over(all))
          .select(col("source"), col("n_chars"),
            // 2·(average rank) − 1 = 2·cum_below + c − 1, kept integral
            (lit(2) * (col("cumi") - col("c")) + col("c") - 1).as("r2"),
            col("n"))
        d.join(cum, Seq("source", "n_chars"))
          .select(col("doc_id"), col("source"), col("n_chars"),
            round(col("r2").cast("double") / (lit(2.0) * col("n")), 8)
              .as("quantile"))
      },
      Some("""WITH h AS (
             |  SELECT source, n_chars, count(*) AS c FROM documents
             |  GROUP BY 1, 2),
             |cu AS (
             |  SELECT source, n_chars, c,
             |    sum(c) OVER (PARTITION BY source ORDER BY n_chars) AS cumi,
             |    sum(c) OVER (PARTITION BY source) AS n
             |  FROM h)
             |SELECT d.doc_id, d.source, d.n_chars,
             |  round(CAST(2 * (cumi - c) + c - 1 AS DOUBLE) / (2.0 * n), 8)
             |    AS quantile
             |FROM documents d JOIN cu
             |  ON d.source = cu.source AND d.n_chars = cu.n_chars""".stripMargin)),

    // k-anonymity release check over the (lang, source) quasi-identifier:
    // every group's size, its k<5 flag, and the share of docs that would
    // need suppression — the privacy-release sibling of the data card
    Q("k_anonymity",
      (s, dir) => documents(s, dir)
        .groupBy("lang", "source").agg(count(lit(1)).as("group_size"))
        .select(col("lang"), col("source"), col("group_size"),
          (col("group_size") < 5).cast("int").as("below_k")),
      Some("""SELECT lang, source, count(*) AS group_size,
             |  CAST(count(*) < 5 AS INTEGER) AS below_k
             |FROM documents GROUP BY 1, 2""".stripMargin)),

    // the Gopher quality rules (Rae et al. 2021 §A1.1, the thresholds
    // adapted to this corpus's scale): word-count window, mean-word-length
    // window, fraction of words containing an alphabetic character, and
    // minimum distinct stop-words — each rule's verdict exposed as a flag
    // so downstream filters can compose them. Pure per-row expressions.
    Q("gopher_rules",
      (s, dir) => {
        val toks = TA.tokens(col("text"))
        documents(s, dir).select(col("doc_id"),
            size(toks).as("n_words"),
            round(TA.meanTokenLen(col("text")), 8).as("mean_word_len"),
            round(try_divide(size(filter(toks, t => t.rlike("[a-z]")))
              .cast("double"), size(toks)), 8).as("alpha_word_frac"),
            size(array_intersect(array_distinct(toks),
              lit(TA.defaultStopwords.toArray))).as("n_stop"))
          .select(col("doc_id"), col("n_words"), col("mean_word_len"),
            col("alpha_word_frac"), col("n_stop"),
            (col("n_words") >= 20 && col("n_words") <= 1000).cast("int")
              .as("ok_words"),
            (col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0)
              .cast("int").as("ok_wordlen"),
            (col("alpha_word_frac") >= 0.8).cast("int").as("ok_alpha"),
            (col("n_stop") >= 2).cast("int").as("ok_stop"))
          .withColumn("keep",
            // three-valued AND, not flag multiplication: an empty doc has
            // ok_words = 0 but NULL word-length/alpha flags, and SQL's
            // FALSE AND NULL = FALSE must win (0·NULL = NULL diverges)
            (col("ok_words") === 1 && col("ok_wordlen") === 1 &&
             col("ok_alpha") === 1 && col("ok_stop") === 1).cast("int"))
      },
      Some(s"""WITH t AS (
             |  SELECT doc_id, text,
             |    list_filter(string_split(text, ' '), x -> length(x) > 0) AS toks
             |  FROM documents),
             |m AS (
             |  SELECT doc_id,
             |    CAST(len(toks) AS INTEGER) AS n_words,
             |    round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(toks), 8)
             |      AS mean_word_len,
             |    round(CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
             |      AS DOUBLE) / len(toks), 8) AS alpha_word_frac,
             |    CAST(len(list_intersect(list_distinct(toks),
             |      [${TA.defaultStopwords.map("'" + _ + "'").mkString(",")}]))
             |      AS INTEGER) AS n_stop
             |  FROM t)
             |SELECT doc_id, n_words, mean_word_len, alpha_word_frac, n_stop,
             |  CAST(n_words BETWEEN 20 AND 1000 AS INTEGER) AS ok_words,
             |  CAST(mean_word_len BETWEEN 3.0 AND 10.0 AS INTEGER) AS ok_wordlen,
             |  CAST(alpha_word_frac >= 0.8 AS INTEGER) AS ok_alpha,
             |  CAST(n_stop >= 2 AS INTEGER) AS ok_stop,
             |  CAST((n_words BETWEEN 20 AND 1000) AND
             |       (mean_word_len BETWEEN 3.0 AND 10.0) AND
             |       alpha_word_frac >= 0.8 AND n_stop >= 2 AS INTEGER) AS keep
             |FROM m""".stripMargin)),

    // per-document character-entropy quality signal (the compression-ratio
    // proxy of CCNet/Gopher pipelines, exactly computable in SQL): Shannon
    // entropy over the char distribution, each -p·log2(p) term quantized
    // to DECIMAL(20,9) before the sum — order-free exact addition, so both
    // engines agree to the last bit (the LM-score pattern).
    Q("text_entropy",
      (s, dir) => {
        // spread the scan: the per-char explode (the query's entire cost)
        // otherwise runs single-task inside the one-split scan stage
        // (measured r17: 1.46 s of 1.61 s in a tasks=1 stage at sf0.1)
        val chars = graft.ops.Spread.byKey(documents(s, dir), col("doc_id"))
          .select(col("doc_id"), length(col("text")).as("__n"),
            explode(expr("sequence(1, greatest(length(text), 1))")).as("__i"),
            col("text"))
          .select(col("doc_id"), col("__n"),
            expr("substr(text, __i, 1)").as("__ch"))
          .filter(length(col("__ch")) === 1)
        chars.groupBy("doc_id", "__n", "__ch")
          .agg(count(lit(1)).as("__c"))
          .withColumn("__term",
            round((col("__c").cast("double") / col("__n")) *
              log2(col("__n").cast("double") / col("__c")), 9)
              .cast("decimal(20,9)"))
          .groupBy("doc_id")
          .agg(count(lit(1)).cast("int").as("n_distinct_chars"),
            sum("__term").cast("double").as("entropy_bits"))
      },
      Some("""WITH pos AS (
             |  SELECT doc_id, length(text) AS n, text,
             |    unnest(generate_series(1, greatest(length(text), 1))) AS i
             |  FROM documents),
             |ch AS (SELECT doc_id, n, substr(text, i, 1) AS c FROM pos
             |       WHERE length(substr(text, i, 1)) = 1),
             |ct AS (SELECT doc_id, n, c, count(*) AS cnt FROM ch GROUP BY 1, 2, 3),
             |tm AS (SELECT doc_id,
             |    CAST(round((CAST(cnt AS DOUBLE) / n) *
             |      log2(CAST(n AS DOUBLE) / cnt), 9) AS DECIMAL(20,9)) AS term
             |  FROM ct)
             |SELECT doc_id, CAST(count(*) AS INTEGER) AS n_distinct_chars,
             |  CAST(sum(term) AS DOUBLE) AS entropy_bits
             |FROM tm GROUP BY doc_id""".stripMargin)),

    Q("text_lm_score",
      (s, dir) => TA.charBigramLmScore(documents(s, dir), "doc_id", "text"),
      Some("""WITH pos AS (
             |  SELECT doc_id, text, unnest(generate_series(1, greatest(length(text)-1, 1))) AS i
             |  FROM documents),
             |bg AS (SELECT doc_id, substr(text, i, 2) AS bg FROM pos
             |  WHERE length(substr(text, i, 2)) = 2),
             |counts AS (SELECT bg, count(*) AS cnt FROM bg GROUP BY bg),
             |c1t AS (SELECT substr(bg, 1, 1) AS c1, CAST(sum(cnt) AS BIGINT) AS tot
             |  FROM counts GROUP BY 1),
             |vv AS (SELECT count(DISTINCT substr(bg, 2, 1)) AS v FROM counts),
             |sc AS (SELECT b.doc_id,
             |    CAST(round(ln((c.cnt + 1) / (t.tot + vv.v)), 9) AS DECIMAL(20,9)) AS lp
             |  FROM bg b JOIN counts c USING (bg)
             |  JOIN c1t t ON t.c1 = substr(b.bg, 1, 1), vv)
             |SELECT doc_id, count(*) AS n_bigrams,
             |  CAST(sum(lp) AS DOUBLE)/count(*) AS lm_score
             |FROM sc GROUP BY doc_id""".stripMargin)),

    // exact length percentiles per source — the scale-correct plan: reduce
    // data rows to a (source, value) HISTOGRAM first (map-side combine),
    // then run the cumulative window over histogram rows (bounded by
    // distinct values, not corpus size) and pick the smallest value whose
    // cumulative count reaches ceil(p·n). No data-sized window, no
    // approx-percentile sketch divergence between engines — exact by
    // construction.
    Q("token_percentiles",
      (s, dir) => {
        // null-text docs are excluded from the stats on both sides:
        // tokenCount null-propagates, and a NULL n_tokens would land at
        // OPPOSITE ends of the cumulative window (Spark orders NULLS
        // FIRST, DuckDB NULLS LAST), silently shifting every threshold
        val d = documents(s, dir).filter(col("text").isNotNull)
          .select(col("source"), TA.tokenCount(col("text")).as("n_tokens"))
        val hist = d.groupBy("source", "n_tokens").agg(count(lit(1)).as("c"))
        val byVal = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy("n_tokens")
        val all = org.apache.spark.sql.expressions.Window.partitionBy("source")
        hist.withColumn("cum", sum("c").over(byVal))
          .withColumn("n", sum("c").over(all))
          .groupBy("source")
          .agg(max("n").as("n_docs"),
            min(when(col("cum") >= expr("(n + 1) div 2"), col("n_tokens")))
              .as("p50_tokens"),
            min(when(col("cum") >= expr("(9 * n + 9) div 10"), col("n_tokens")))
              .as("p90_tokens"),
            max("n_tokens").as("max_tokens"))
      },
      Some("""WITH d AS (
             |  SELECT source,
             |    CAST(len(list_filter(string_split(text, ' '),
             |      t -> length(t) > 0)) AS INTEGER) AS n_tokens
             |  FROM documents WHERE text IS NOT NULL),
             |h AS (SELECT source, n_tokens, count(*) AS c FROM d GROUP BY 1, 2),
             |cw AS (
             |  SELECT source, n_tokens, c,
             |    sum(c) OVER (PARTITION BY source ORDER BY n_tokens
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             |    sum(c) OVER (PARTITION BY source) AS n
             |  FROM h)
             |SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
             |  min(CASE WHEN cum >= (n + 1) // 2 THEN n_tokens END) AS p50_tokens,
             |  min(CASE WHEN cum >= (9 * n + 9) // 10 THEN n_tokens END) AS p90_tokens,
             |  max(n_tokens) AS max_tokens
             |FROM cw GROUP BY source""".stripMargin)),

    // PII scrub: the synthetic corpus has no contact strings, so the query
    // first splices a deterministic email/phone/IPv4 per doc (identically on
    // both engines), then counts + redacts — the scrub machinery itself is
    // what's under test
    Q("pii_redact",
      (s, dir) => TA.piiRedact(
        documents(s, dir).withColumn("__ptext",
          concat(lit("user"), col("doc_id").cast("string"),
            lit("@example.com or "),
            lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
            lit(" ip 10.0."), (col("doc_id") % 256).cast("string"), lit("."),
            (col("doc_id") % 100).cast("string"), lit(" "), col("text"))),
        "doc_id", "__ptext"),
      Some("""WITH p AS (SELECT doc_id,
             |    'user' || doc_id || '@example.com or ' ||
             |    lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-555-' ||
             |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
             |    ' ip 10.0.' || (doc_id % 256) || '.' || (doc_id % 100) ||
             |    ' ' || text AS ptext
             |  FROM documents),
             |r AS (SELECT doc_id, ptext,
             |    regexp_replace(regexp_replace(regexp_replace(ptext,
             |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |      '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
             |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS red
             |  FROM p)
             |SELECT doc_id,
             |  CAST(len(regexp_extract_all(ptext,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
             |  CAST(len(regexp_extract_all(ptext,
             |    '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS INTEGER) AS n_phones,
             |  CAST(len(regexp_extract_all(ptext,
             |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INTEGER) AS n_ips,
             |  CAST(length(red) AS BIGINT) AS n_chars_redacted,
             |  md5(red) AS redacted_md5
             |FROM r""".stripMargin)),

    Q("text_quality",
      (s, dir) => documents(s, dir).select(col("doc_id"),
        TA.charCount(col("text")).as("n_chars_m"),
        TA.tokenCount(col("text")).as("n_tokens"),
        round(TA.meanTokenLen(col("text")), 8).as("mean_tok_len"),
        round(TA.stopwordRatio(col("text")), 8).as("stopword_ratio"),
        round(TA.qualityScore(col("text")), 8).as("quality")),
      Some("""WITH b AS (
             |  SELECT doc_id, text, length(text) AS n_chars_m,
             |    len(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS n_tokens,
             |    CAST(length(replace(text, ' ', '')) AS DOUBLE)
             |      / len(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS mtl,
             |    len(list_filter(string_split(text, ' '),
             |      t -> list_contains(['the','a','of','and','to','in','is','it','on','for'], t)))
             |      AS stop_hits
             |  FROM documents)
             |SELECT doc_id, CAST(n_chars_m AS INTEGER) AS n_chars_m,
             |  CAST(n_tokens AS INTEGER) AS n_tokens,
             |  round(mtl, 8) AS mean_tok_len,
             |  round(CAST(stop_hits AS DOUBLE) / n_tokens, 8) AS stopword_ratio,
             |  round((CASE WHEN n_chars_m BETWEEN 100 AND 400 THEN 1.0
             |        WHEN n_chars_m < 100 THEN CAST(n_chars_m AS DOUBLE) / 100.0
             |        ELSE 400.0 / n_chars_m END) * 0.6 +
             |    (CASE WHEN mtl BETWEEN 3.0 AND 8.0 THEN 1.0 ELSE 0.5 END) * 0.4, 8)
             |    AS quality
             |FROM b""".stripMargin)),

    Q("text_langid",
      (s, dir) => documents(s, dir).select(col("doc_id"),
        TA.langId(col("text")).as("lang_pred")),
      Some {
        val scoreSql = TA.langMarkers.map { case (l, ms) =>
          val list = ms.map("'" + _ + "'").mkString("[", ",", "]")
          s"len(list_filter(string_split(text, ' '), t -> list_contains($list, t))) AS s_$l"
        }.mkString(",\n    ")
        val langs = TA.langMarkers.map(_._1)
        val maxExpr = langs.map("s_" + _).reduce((a, b) => s"greatest($a, $b)")
        val chain = langs.reverse.foldLeft("'und'") { (acc, l) =>
          s"CASE WHEN s_$l = mx AND mx > 0 THEN '$l' ELSE $acc END"
        }
        s"""WITH sc AS (SELECT doc_id, $scoreSql FROM documents),
           |m AS (SELECT *, $maxExpr AS mx FROM sc)
           |SELECT doc_id, $chain AS lang_pred FROM m""".stripMargin
      }),

    Q("text_tokens",
      (s, dir) => documents(s, dir).select(col("doc_id"),
        TA.tokenCount(col("text")).as("n_tokens"),
        TA.subwordCount("text").as("n_subwords"),
        TA.fingerprint(col("text")).as("fingerprint")),
      Some("""SELECT doc_id,
             |  CAST(len(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS INTEGER) AS n_tokens,
             |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS n_subwords,
             |  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint
             |FROM documents""".stripMargin)),

    // Gopher-style repetition filter: duplicate word-3-gram fraction per doc
    Q("text_repetition",
      (s, dir) => {
        // project the gram array ONCE; all four outputs derive from it
        val d = documents(s, dir)
          .withColumn("__grams",
            TA.textNgrams(col("text"), 3))
          .withColumn("__n", size(col("__grams")))
          .withColumn("__nd", size(array_distinct(col("__grams"))))
          .withColumn("__frac", when(col("__n") > 0,
            (col("__n") - col("__nd")).cast("double") / col("__n")).otherwise(0.0))
        d.select(col("doc_id"), col("__n").as("n_3grams"),
          col("__nd").as("n_distinct"),
          round(col("__frac"), 8).as("dup_frac"),
          (col("__frac") > 0.3).as("repetitive"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> length(x) > 0) AS toks
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, CASE WHEN len(toks) >= 3 THEN
             |    list_transform(generate_series(1, len(toks) - 2),
             |      i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
             |    ELSE [] END AS grams
             |  FROM t)
             |SELECT doc_id, CAST(len(grams) AS INTEGER) AS n_3grams,
             |  CAST(len(list_distinct(grams)) AS INTEGER) AS n_distinct,
             |  round(CASE WHEN len(grams) > 0 THEN
             |    CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE) / len(grams)
             |    ELSE 0.0 END, 8) AS dup_frac,
             |  (CASE WHEN len(grams) > 0 THEN
             |    CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE) / len(grams)
             |    ELSE 0.0 END) > 0.3 AS repetitive
             |FROM g""".stripMargin)),

    // corpus-level top-k n-grams: one hash-shuffle aggregation with
    // map-side combine, then TakeOrderedAndProject (per-partition top-k
    // merged on the driver — never a global sort of the counts)
    Q("corpus_ngram_topk",
      (s, dir) => {
        val grams = documents(s, dir)
          .withColumn("__toks", TA.tokens(col("text")))
          .select(explode(TA.wordNgrams(col("__toks"), 2)).as("ngram"))
        grams.groupBy("ngram").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("ngram"))
          .limit(20)
      },
      Some("""WITH t AS (
             |  SELECT list_filter(string_split(text, ' '), x -> length(x) > 0) AS toks
             |  FROM documents),
             |g AS (
             |  SELECT unnest(CASE WHEN len(toks) >= 2 THEN
             |    list_transform(generate_series(1, len(toks) - 1),
             |      i -> concat_ws(' ', toks[i], toks[i+1]))
             |    ELSE [] END) AS ngram
             |  FROM t)
             |SELECT ngram, cnt FROM (
             |  SELECT ngram, count(*) AS cnt FROM g GROUP BY ngram)
             |ORDER BY cnt DESC, ngram LIMIT 20""".stripMargin)),

    // deterministic stratified sampling: per-source keep rates via a
    // portable integer hash — the reproducible train/val-split primitive
    Q("sample_stratified",
      (s, dir) => {
        val rate = when(col("source") === "src0", 100)
          .when(col("source") === "src1", 250).otherwise(50)
        documents(s, dir)
          .withColumn("__h", TA.sampleHash(col("doc_id")))
          .filter(col("__h") < rate)
          .select("doc_id", "source")
      },
      Some("""SELECT doc_id, source FROM documents
             |WHERE ((doc_id % 2147483647) * 2654435761 + 40503) % 2147483647 % 1000 <
             |  CASE WHEN source = 'src0' THEN 100
             |       WHEN source = 'src1' THEN 250 ELSE 50 END""".stripMargin)),

    // ---- multimodal (stubbed decode, real plumbing) ------------------
    // JSON sidecar-metadata extraction (every crawl pipeline's props blob):
    // schema-on-read parse of events.props, typed field pulled with
    // get_json_object (codegen'd, no UDF), grouped stats with the exact
    // DECIMAL-sum mean so both engines agree bitwise
    Q("json_props_stats",
      (s, dir) => events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), min("k").as("k_min"), max("k").as("k_max"),
          Exact.avg(col("k")).as("k_avg")),
      Some(s"""SELECT event_type, count(*) AS n,
             |  min(k) AS k_min, max(k) AS k_max,
             |  ${Exact.avgSql("k")} AS k_avg
             |FROM (SELECT event_type,
             |    CAST(CASE WHEN json_valid(props) THEN props::JSON->>'k' END
             |      AS BIGINT) AS k
             |  FROM events)
             |GROUP BY event_type""".stripMargin)),

    // REAL audio decode (PCM WAV is pure byte arithmetic — no codec lib):
    // synthesize a deterministic WAV per doc, decode it with the RIFF
    // chunk-walking parser, emit stats; the oracle computes the same stats
    // in closed form from the synthesis rule, so the decoder only passes
    // if it recovers every sample bit-exactly
    Q("multimodal_wav_decode",
      (s, dir) => Multimodal.wavRoundTrip(documents(s, dir), "doc_id",
        nSamples = 64, sampleRate = 8000).toDF(),
      Some("""WITH smp AS (
             |  SELECT doc_id, ((doc_id * 31 + g.i * 7) % 65536) - 32768 AS amp
             |  FROM documents, generate_series(0, 63) g(i))
             |SELECT doc_id AS media_id,
             |  CAST(8000 AS INTEGER) AS sample_rate,
             |  CAST(1 AS INTEGER) AS channels,
             |  CAST(64 AS INTEGER) AS n_samples,
             |  CAST(sum(amp) AS DOUBLE) / 64 AS mean_amp,
             |  CAST(max(amp) AS INTEGER) AS max_amp
             |FROM smp GROUP BY doc_id""".stripMargin)),

    // REAL compressed-audio decode: IMA ADPCM (WAV tag 0x0011). Blocks are
    // synthesized from a closed-form nibble rule, decoded with the real
    // container+state-machine parser, and EVERY sample is emitted; the
    // oracle replays the 89-entry step-table state machine as a recursive
    // CTE — container walk, low-first nibble unpack, and all four update
    // paths (add/sub, both clamps) must be bit-exact to pass.
    Q("multimodal_adpcm_decode",
      (s, dir) => Multimodal.adpcmRoundTrip(documents(s, dir), "doc_id",
        blocks = 2, blockAlign = 12, sampleRate = 8000).toDF(),
      Some {
        val steps = graft.ops.Multimodal.imaStepsSql
        s"""WITH RECURSIVE stt AS (SELECT $steps AS st),
           |blk AS (
           |  SELECT doc_id, b.b,
           |    CAST((doc_id * 131 + b.b * 17) % 65536 - 32768 AS INTEGER) AS pred0,
           |    CAST((doc_id * 7 + b.b * 11) % 89 AS INTEGER) AS idx0
           |  FROM documents, generate_series(0, 1) b(b)),
           |dec AS (
           |  SELECT doc_id, b, 0 AS j, pred0 AS pred, idx0 AS idx FROM blk
           |  UNION ALL
           |  SELECT doc_id, b, j + 1,
           |    CAST(greatest(-32768, least(32767,
           |      CASE WHEN n >= 8 THEN pred - diff ELSE pred + diff END)) AS INTEGER),
           |    CAST(greatest(0, least(88, idx +
           |      CASE WHEN n % 8 < 4 THEN -1 ELSE (n % 8 - 3) * 2 END)) AS INTEGER)
           |  FROM (
           |    SELECT q.*,
           |      st // 8 + CASE WHEN n % 2 = 1 THEN st // 4 ELSE 0 END
           |        + CASE WHEN n % 4 >= 2 THEN st // 2 ELSE 0 END
           |        + CASE WHEN n % 8 >= 4 THEN st ELSE 0 END AS diff
           |    FROM (
           |      SELECT d.doc_id, d.b, d.j, d.pred, d.idx,
           |        CAST((d.doc_id * 13 + d.b * 7 + d.j * 5) % 16 AS INTEGER) AS n,
           |        stt.st[d.idx + 1] AS st
           |      FROM dec d, stt) q) WHERE j < 16)
           |SELECT doc_id AS media_id, CAST(b AS INTEGER) AS blk,
           |  CAST(j AS INTEGER) AS idx, CAST(pred AS INTEGER) AS amp
           |FROM dec""".stripMargin
      }),

    // REAL entropy-coded audio: Rice/Shorten residual codec (order-2 fixed
    // predictor + zigzag + unary/k-bit Rice codes, MSB-first bitstream).
    // The query emits every sample's BIT OFFSET and code length from the
    // real decoder — the oracle rebuilds the variable-length layout
    // closed-form (predictor, zigzag, quotient) with a cumulative window,
    // so any packing/unary/warmup error shifts every later offset.
    // REAL FLAC (strict subset, RFC 9639): full container — STREAMINFO,
    // CRC-8-protected frame headers, FIXED-order-2 subframe with exact
    // cheapest-k Rice residuals, whole-frame CRC-16. The oracle replays
    // predictor/zigzag/k-minimization AND the byte layout: n_bytes =
    // 52 + (cost + 57)//8 ties the hash to every header field and pad bit.
    Q("multimodal_flac_decode",
      (s, dir) => graft.ops.Flac.flacRoundTrip(documents(s, dir), "doc_id",
        n = 48, sampleRate = 8000).toDF(),
      Some("""WITH s AS (
             |  SELECT doc_id, g.i,
             |    CAST((doc_id * 37 + g.i*g.i*5 + g.i) % 1024 - 512 AS INTEGER)
             |      AS amp
             |  FROM documents, generate_series(0, 47) g(i)),
             |e AS (
             |  SELECT doc_id, i,
             |    amp - 2*lag(amp, 1) OVER w + lag(amp, 2) OVER w AS e
             |  FROM s WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
             |z AS (
             |  SELECT doc_id, CASE WHEN e >= 0 THEN CAST(2*e AS BIGINT)
             |    ELSE CAST(-2*e - 1 AS BIGINT) END AS z
             |  FROM e WHERE e IS NOT NULL),
             |kc AS (
             |  SELECT doc_id, k.k, CAST(sum((z >> k.k) + 1 + k.k) AS BIGINT)
             |    AS cost
             |  FROM z, generate_series(0, 14) k(k) GROUP BY 1, 2),
             |best AS (SELECT doc_id, k AS rice_k, cost AS rice_cost FROM (
             |  SELECT *, row_number() OVER (PARTITION BY doc_id
             |    ORDER BY cost, k) AS rn FROM kc) WHERE rn = 1)
             |SELECT doc_id AS media_id, 48 AS n_samples, 8000 AS sample_rate,
             |  CAST(52 + (rice_cost + 57) // 8 AS INTEGER) AS n_bytes,
             |  CAST(rice_k AS INTEGER) AS rice_k, rice_cost
             |FROM best""".stripMargin)),

    Q("multimodal_rice_decode",
      (s, dir) => Multimodal.riceRoundTrip(documents(s, dir), "doc_id",
        n = 40, k = 4).toDF(),
      Some("""WITH s AS (
             |  SELECT doc_id, g.i,
             |    CAST((doc_id * 31 + g.i * g.i * 3 + g.i) % 512 - 256 AS INTEGER) AS amp
             |  FROM documents, generate_series(0, 39) g(i)),
             |r AS (
             |  SELECT doc_id, i, amp,
             |    CASE WHEN i < 2 THEN 16 ELSE
             |      CAST((CASE WHEN e >= 0 THEN 2 * e ELSE -2 * e - 1 END) // 16 + 5 AS INTEGER)
             |    END AS bit_len
             |  FROM (
             |    SELECT doc_id, i, amp,
             |      amp - 2 * lag(amp, 1) OVER w + lag(amp, 2) OVER w AS e
             |    FROM s WINDOW w AS (PARTITION BY doc_id ORDER BY i)))
             |SELECT doc_id AS media_id, CAST(i AS INTEGER) AS idx, amp,
             |  CAST(coalesce(sum(bit_len) OVER (PARTITION BY doc_id ORDER BY i
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             |    AS bit_off,
             |  CAST(bit_len AS INTEGER) AS bit_len
             |FROM r""".stripMargin)),

    // REAL compressed-audio decode #2: G.711 mu-law (WAV format tag 7) —
    // logarithmic 16->8-bit companding, stateless per sample, so the whole
    // encode→container→decode chain replays closed-form (sign/segment/
    // mantissa extraction and reconstruction must be bit-exact)
    Q("multimodal_mulaw_decode",
      (s, dir) => Multimodal.mulawRoundTrip(documents(s, dir), "doc_id",
        n = 32, sampleRate = 8000).toDF(),
      Some("""WITH s0 AS (
             |  SELECT doc_id, g.i,
             |    CAST((doc_id * 37 + g.i * 1013) % 65536 - 32768 AS INTEGER) AS pcm
             |  FROM documents, generate_series(0, 31) g(i)),
             |enc AS (
             |  SELECT doc_id, i, pcm,
             |    CASE WHEN pcm < 0 THEN 128 ELSE 0 END AS sgn,
             |    least(abs(pcm), 32635) + 132 AS c
             |  FROM s0),
             |seg AS (
             |  SELECT doc_id, i, pcm, sgn, c,
             |    CASE WHEN c >= 16384 THEN 7 WHEN c >= 8192 THEN 6
             |         WHEN c >= 4096 THEN 5 WHEN c >= 2048 THEN 4
             |         WHEN c >= 1024 THEN 3 WHEN c >= 512 THEN 2
             |         WHEN c >= 256 THEN 1 ELSE 0 END AS exp
             |  FROM enc),
             |cod AS (
             |  SELECT doc_id, i, pcm, sgn, exp,
             |    (c // (1 << (exp + 3))) % 16 AS mant
             |  FROM seg)
             |SELECT doc_id AS media_id, CAST(i AS INTEGER) AS idx, pcm,
             |  CAST(255 - (sgn + exp * 16 + mant) AS INTEGER) AS code,
             |  CAST(CASE WHEN sgn = 128 THEN -(((mant * 8 + 132) << exp) - 132)
             |       ELSE ((mant * 8 + 132) << exp) - 132 END AS INTEGER) AS amp
             |FROM cod""".stripMargin)),

    // REAL compressed-audio decode #3: G.711 A-law (WAV format tag 6) —
    // the European companding twin: 0x55 even-bit toggle, no bias term.
    // NOTE the oracle's floor(pcm/8.0): Scala's >>3 floors, DuckDB's //
    // truncates toward zero — naive pcm//8 diverges on every negative
    Q("multimodal_alaw_decode",
      (s, dir) => Multimodal.alawRoundTrip(documents(s, dir), "doc_id",
        n = 32, sampleRate = 8000).toDF(),
      Some("""WITH s0 AS (
             |  SELECT doc_id, g.i,
             |    CAST((doc_id * 41 + g.i * 997) % 65536 - 32768 AS INTEGER) AS pcm
             |  FROM documents, generate_series(0, 31) g(i)),
             |v1 AS (SELECT doc_id, i, pcm,
             |    CAST(floor(pcm / 8.0) AS INTEGER) AS v FROM s0),
             |v2 AS (SELECT doc_id, i, pcm,
             |    CASE WHEN v >= 0 THEN 213 ELSE 85 END AS mask,
             |    CASE WHEN v >= 0 THEN v ELSE -v - 1 END AS m
             |  FROM v1),
             |sg AS (SELECT doc_id, i, pcm, mask, m,
             |    CASE WHEN m <= 31 THEN 0 WHEN m <= 63 THEN 1
             |         WHEN m <= 127 THEN 2 WHEN m <= 255 THEN 3
             |         WHEN m <= 511 THEN 4 WHEN m <= 1023 THEN 5
             |         WHEN m <= 2047 THEN 6 ELSE 7 END AS seg
             |  FROM v2),
             |cd AS (SELECT doc_id, i, pcm,
             |    xor(seg * 16 +
             |      (CASE WHEN seg < 2 THEN m // 2 ELSE m // (1 << seg) END) % 16,
             |      mask) AS code
             |  FROM sg),
             |de AS (SELECT doc_id, i, pcm, code, xor(code, 85) AS a FROM cd),
             |dt AS (SELECT doc_id, i, pcm, code, a,
             |    CASE WHEN (a // 16) % 8 = 0 THEN (a % 16) * 16 + 8
             |         WHEN (a // 16) % 8 = 1 THEN (a % 16) * 16 + 264
             |         ELSE ((a % 16) * 16 + 264) * (1 << ((a // 16) % 8 - 1))
             |    END AS t
             |  FROM de)
             |SELECT doc_id AS media_id, CAST(i AS INTEGER) AS idx, pcm,
             |  CAST(code AS INTEGER) AS code,
             |  CAST(CASE WHEN a >= 128 THEN t ELSE -t END AS INTEGER) AS amp
             |FROM dt""".stripMargin)),

    // REAL image decode: uncompressed 24-bit BMP (bottom-up rows, 4-byte
    // padding — width 5 makes the padding path load-bearing); same
    // synthesize→decode→closed-form-oracle gate as the WAV query
    Q("multimodal_bmp_decode",
      (s, dir) => Multimodal.bmpRoundTrip(documents(s, dir), "doc_id",
        w = 5, h = 4).toDF(),
      Some("""WITH px AS (
             |  SELECT doc_id,
             |    (doc_id * 7 + gx.x * 3 + gy.y * 11 + gc.c * 5) % 256 AS v
             |  FROM documents,
             |    generate_series(0, 4) gx(x),
             |    generate_series(0, 3) gy(y),
             |    generate_series(0, 2) gc(c))
             |SELECT doc_id AS media_id,
             |  CAST(5 AS INTEGER) AS width, CAST(4 AS INTEGER) AS height,
             |  CAST(sum(v) AS DOUBLE) / 60 AS mean_pixel,
             |  CAST(max(v) AS INTEGER) AS max_pixel
             |FROM px GROUP BY doc_id""".stripMargin)),

    // decode → transform on real pixels: nearest-neighbor resize of the
    // decoded BMP (integer source indices name every output pixel in the
    // oracle); stats match only if decode AND resample are exact
    Q("multimodal_bmp_resize",
      (s, dir) => Multimodal.bmpResizeRoundTrip(documents(s, dir), "doc_id",
        w = 5, h = 4, outW = 8, outH = 6).toDF(),
      Some("""WITH px AS (
             |  SELECT doc_id,
             |    (doc_id * 7 + ((gx.x * 5) // 8) * 3
             |      + ((gy.y * 4) // 6) * 11 + gc.c * 5) % 256 AS v
             |  FROM documents,
             |    generate_series(0, 7) gx(x),
             |    generate_series(0, 5) gy(y),
             |    generate_series(0, 2) gc(c))
             |SELECT doc_id AS media_id,
             |  CAST(8 AS INTEGER) AS out_w, CAST(6 AS INTEGER) AS out_h,
             |  CAST(sum(v) AS DOUBLE) / 144 AS mean_pixel,
             |  CAST(max(v) AS INTEGER) AS max_pixel
             |FROM px GROUP BY doc_id""".stripMargin)),

    // REAL compressed-image decode: PNG (DEFLATE via java.util.zip — no
    // external codec). h=5 means rows y%5 exercise ALL five scanline
    // filter types (None/Sub/Up/Average/Paeth); RGBA exercises color
    // type 6; the encoder splits IDAT across two chunks. Same
    // synthesize→decode→closed-form-oracle gate as the WAV/BMP queries.
    Q("multimodal_png_decode",
      (s, dir) => Multimodal.pngRoundTrip(documents(s, dir), "doc_id",
        w = 6, h = 5).toDF(),
      Some("""WITH px AS (
             |  SELECT doc_id,
             |    (doc_id * 7 + gx.x * 3 + gy.y * 11 + gc.c * 5) % 256 AS v
             |  FROM documents,
             |    generate_series(0, 5) gx(x),
             |    generate_series(0, 4) gy(y),
             |    generate_series(0, 3) gc(c))
             |SELECT doc_id AS media_id,
             |  CAST(6 AS INTEGER) AS width, CAST(5 AS INTEGER) AS height,
             |  CAST(4 AS INTEGER) AS channels,
             |  CAST(sum(v) AS DOUBLE) / 120 AS mean_pixel,
             |  CAST(max(v) AS INTEGER) AS max_pixel
             |FROM px GROUP BY doc_id""".stripMargin)),

    // REAL QOI image codec round trip (the public CC0 qoiformat.org
    // lossless format): running 64-color table, wraparound diffs, RLE.
    // The pixel rule makes every op load-bearing (plateaus→RUN, +1
    // steps→DIFF, +11 rows→LUMA, repeated column→INDEX, non-255
    // alpha→RGBA); losslessness is a hard require in the harness and the
    // stats only match the closed-form oracle if decode(encode(px)) == px.
    Q("multimodal_qoi_decode",
      (s, dir) => Multimodal.qoiRoundTrip(documents(s, dir), "doc_id",
        w = 12, h = 5).toDF(),
      Some("""WITH px AS (
             |  SELECT doc_id,
             |    (doc_id * 7 + (CASE WHEN gx.x = 11 THEN 0 ELSE gx.x END) // 3
             |      + gy.y * 11 + gc.c * 13) % 256 AS v
             |  FROM documents,
             |    generate_series(0, 11) gx(x),
             |    generate_series(0, 4) gy(y),
             |    generate_series(0, 2) gc(c)
             |  UNION ALL
             |  SELECT doc_id, (doc_id * 3) % 256 AS v
             |  FROM documents,
             |    generate_series(0, 11) gx(x),
             |    generate_series(0, 4) gy(y))
             |SELECT doc_id AS media_id,
             |  CAST(12 AS INTEGER) AS width, CAST(5 AS INTEGER) AS height,
             |  CAST(4 AS INTEGER) AS channels,
             |  CAST(sum(v) AS DOUBLE) / 240 AS mean_pixel,
             |  CAST(max(v) AS INTEGER) AS max_pixel
             |FROM px GROUP BY doc_id""".stripMargin)),

    // TF-IDF vectorization (every doc-term pair with tf/df/score; round-9
    // ln discipline, no in-op ranking so log ulps cannot flip results)
    Q("tfidf_vector",
      (s, dir) => TA.tfidf(documents(s, dir), "doc_id", "text"),
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
             |  FROM documents),
             |tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
             |  FROM toks GROUP BY 1, 2),
             |dfr AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
             |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
             |SELECT doc_id, word, tf, df,
             |  round(tf * ln(CAST(n AS DOUBLE) / df), 9) AS tfidf
             |FROM tf JOIN dfr USING (word), n""".stripMargin)),

    // corpus-scale BPE merge-pair training (Sennrich 2016): k merge rounds
    // over the distinct-word frequency table; each round is one map-side-
    // combinable pair count + a 1-row winning-pair collect (bounded model
    // state), merge applied as a left-fold HOF. The oracle replays every
    // round as chained CTEs with the greedy merge expressed positionally
    // (a match position merges iff it has an even number of consecutive
    // matches before it in its run — equivalent to the fold for L=R runs
    // like "aaa", and vacuous for L≠R where overlaps are impossible).
    Q("bpe_train",
      (s, dir) => graft.ops.Bpe.train(documents(s, dir), "text", k = BpeK),
      Some(bpeOracle(BpeK))),

    // the ENCODE side of the trained tokenizer: per distinct word, its
    // segmentation after the 6 learned merges — the oracle reuses the same
    // replayed rounds and reads the final word table
    Q("bpe_segment",
      (s, dir) => graft.ops.Bpe.segment(documents(s, dir), "text", k = BpeK),
      Some(bpeCtes(BpeK) +
        s"""
          |SELECT w AS word, array_to_string(sym, '|') AS tokens,
          |  CAST(len(sym) AS INT) AS n_tokens
          |FROM w$BpeK""".stripMargin)),

    // corpus-scale encode under the trained tokenizer: the word→n_tokens
    // map is vocabulary-sized (broadcast model); the corpus is touched
    // once with a map-side-combinable per-doc aggregation
    Q("bpe_doc_tokens",
      (s, dir) => graft.ops.Bpe.docTokens(documents(s, dir), "doc_id", "text", k = BpeK),
      Some(bpeCtes(BpeK) +
        s""",
          |docw AS (
          |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
          |  FROM documents)
          |SELECT doc_id, CAST(sum(len(w$BpeK.sym)) AS BIGINT) AS n_tokens,
          |  CAST(count(*) AS BIGINT) AS n_words
          |FROM docw JOIN w$BpeK USING (w)
          |WHERE length(docw.w) > 0
          |GROUP BY doc_id""".stripMargin)),

    // tokenizer vocabulary-coverage eval: merges trained on EVEN doc_ids
    // only, held-out ODD docs encoded against the trained vocab — unseen
    // words fall back to char pieces (token cost = char length); per-doc
    // OOV rate + token counts. The eval that sizes a vocabulary against a
    // shifting corpus.
    Q("bpe_oov",
      (s, dir) => graft.ops.Bpe.oovReport(documents(s, dir), "doc_id",
        "text", k = BpeK, trainPred = col("doc_id") % 2 === 0),
      Some(bpeCtes(BpeK, "WHERE doc_id % 2 = 0") +
        s""",
          |docw AS (
          |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
          |  FROM documents WHERE doc_id % 2 = 1),
          |j AS (
          |  SELECT doc_id, docw.w, w$BpeK.sym
          |  FROM docw LEFT JOIN w$BpeK USING (w)
          |  WHERE length(docw.w) > 0)
          |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
          |  CAST(sum(CASE WHEN sym IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
          |  CAST(sum(coalesce(len(sym), length(w))) AS BIGINT) AS n_tokens,
          |  round(CAST(sum(CASE WHEN sym IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
          |    / count(*), 9) AS oov_rate
          |FROM j GROUP BY doc_id""".stripMargin)),

    // REAL video decode: AVI with uncompressed DIB frames (the codec-free
    // video container — RIFF walk + bottom-up BGR frame grammar, byte
    // arithmetic only). Every 2nd of 4 frames is sampled; w=6 puts 2 bytes
    // of DIB padding on every row, so the unpad/flip/swap paths are all
    // load-bearing. This retires the video stub (MP3 is the last stub).
    Q("multimodal_video_frames",
      (s, dir) => Multimodal.aviFrameSampleRoundTrip(documents(s, dir), "doc_id",
        w = 6, h = 4, nFrames = 4, sampleStride = 2).toDF(),
      Some("""WITH px AS (
             |  SELECT doc_id, gf.f,
             |    (doc_id * 7 + gf.f * 13 + gx.x * 3 + gy.y * 11 + gc.c * 5) % 256 AS v
             |  FROM documents, (VALUES (0), (2)) gf(f),
             |    generate_series(0, 5) gx(x), generate_series(0, 3) gy(y),
             |    generate_series(0, 2) gc(c))
             |SELECT doc_id AS media_id, CAST(f AS INTEGER) AS frame_idx,
             |  CAST(6 AS INTEGER) AS width, CAST(4 AS INTEGER) AS height,
             |  CAST(sum(v) AS DOUBLE) / 72 AS mean_pixel,
             |  CAST(max(v) AS INTEGER) AS max_pixel
             |FROM px GROUP BY doc_id, f""".stripMargin)),

    // decode → transform on real audio: decimate-by-4 over the decoded
    // stream; surviving samples are named by the synthesis rule at indices
    // 0, 4, 8, ... so the oracle is closed-form exact
    Q("multimodal_audio_resample",
      (s, dir) => Multimodal.wavDecimateRoundTrip(documents(s, dir), "doc_id",
        nSamples = 64, sampleRate = 8000, factor = 4).toDF(),
      Some("""WITH smp AS (
             |  SELECT doc_id, ((doc_id * 31 + g.i * 4 * 7) % 65536) - 32768 AS amp
             |  FROM documents, generate_series(0, 15) g(i))
             |SELECT doc_id AS media_id,
             |  CAST(2000 AS INTEGER) AS out_rate,
             |  CAST(16 AS INTEGER) AS n_out,
             |  CAST(sum(amp) AS DOUBLE) / 16 AS mean_amp,
             |  CAST(max(amp) AS INTEGER) AS max_amp
             |FROM smp GROUP BY doc_id""".stripMargin)),

    // decode → feature-extract on real audio: a pure tone at bin
    // 1 + doc_id % 20 goes through the real WAV codec and comes back out
    // of a DFT periodogram argmax — the oracle names the bin in closed
    // form, so the gate holds only if decoded samples are bit-faithful
    Q("multimodal_audio_pitch",
      (s, dir) => Multimodal.wavPitchRoundTrip(documents(s, dir), "doc_id",
        n = 128, sampleRate = 8000).toDF(),
      Some("""SELECT doc_id AS media_id, CAST(128 AS INTEGER) AS n_samples,
             |  CAST(1 + doc_id % 20 AS INTEGER) AS dominant_bin
             |FROM documents""".stripMargin)),

    // REAL palette-codec decode: GIF via ImageIO — lossless for <=256
    // colors, so unlike JPEG the oracle is closed-form EXACT: pixel (x,y)
    // has palette index k = (doc_id + 3x + 7y) % 8 and channels
    // (30k, 20k, 10k)
    Q("multimodal_gif_decode",
      (s, dir) => Multimodal.gifRoundTrip(documents(s, dir), "doc_id",
        w = 10, h = 8).toDF(),
      Some("""WITH px AS (
             |  SELECT doc_id,
             |    (doc_id + gx.x * 3 + gy.y * 7) % 8 AS k
             |  FROM documents,
             |    generate_series(0, 9) gx(x),
             |    generate_series(0, 7) gy(y))
             |SELECT doc_id AS media_id,
             |  CAST(10 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
             |  CAST(sum(k * 60) AS DOUBLE) / 240 AS mean_pixel,
             |  CAST(max(k) * 30 AS INTEGER) AS max_pixel
             |FROM px GROUP BY doc_id""".stripMargin)),

    // REAL lossy-codec decode: baseline JPEG via the JDK's ImageIO
    // (java.desktop — still no external dependency). Lossy, so the gate is
    // dims-exact + bounded reconstruction error: rms_ok is TRUE only if
    // the decoded pixels sit within RMS 8/255 of the synthesis rule,
    // which no stub can fake and any real DCT decode satisfies.
    Q("multimodal_jpeg_decode",
      (s, dir) => Multimodal.jpegRoundTrip(documents(s, dir), "doc_id",
        w = 16, h = 12).toDF(),
      Some("""SELECT doc_id AS media_id,
             |  CAST(16 AS INTEGER) AS width, CAST(12 AS INTEGER) AS height,
             |  CAST(3 AS INTEGER) AS channels, TRUE AS rms_ok
             |FROM documents""".stripMargin)),

    // perceptual near-dup key on REAL decoded pixels: 64-bit dHash
    // (grayscale -> 9x8 nearest-neighbor grid -> right-neighbor bits). The
    // oracle recomposes synthesis, integer ITU-R 601 grayscale, resize
    // indexing, and bit packing in closed form — a deviation in any stage
    // flips hash bits
    Q("multimodal_dhash",
      (s, dir) => Multimodal.dhashRoundTrip(documents(s, dir), "doc_id",
        w = 5, h = 4).toDF(),
      Some("""WITH gray AS (
             |  SELECT doc_id, gy.y AS y, gx.x AS x,
             |    (((doc_id * 7 + ((gx.x * 5) // 9) * 3 + ((gy.y * 4) // 8) * 11) % 256) * 299
             |     + ((doc_id * 7 + ((gx.x * 5) // 9) * 3 + ((gy.y * 4) // 8) * 11 + 5) % 256) * 587
             |     + ((doc_id * 7 + ((gx.x * 5) // 9) * 3 + ((gy.y * 4) // 8) * 11 + 10) % 256) * 114) // 1000 AS g
             |  FROM documents, generate_series(0, 8) gx(x), generate_series(0, 7) gy(y)),
             |bits AS (
             |  SELECT a.doc_id, a.y * 8 + a.x AS i,
             |    CASE WHEN b.g > a.g THEN 1 ELSE 0 END AS bit
             |  FROM gray a JOIN gray b
             |    ON b.doc_id = a.doc_id AND b.y = a.y AND b.x = a.x + 1
             |  WHERE a.x < 8)
             |SELECT doc_id AS media_id,
             |  CAST(sum(CASE WHEN i >= 32 THEN bit * (CAST(1 AS BIGINT) << (i - 32)) ELSE 0 END) AS BIGINT) AS dhash_hi,
             |  CAST(sum(CASE WHEN i < 32 THEN bit * (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS dhash_lo,
             |  CAST(sum(bit) AS INTEGER) AS n_bits
             |FROM bits GROUP BY doc_id""".stripMargin)),

    // shot-boundary detection on REAL decoded video: per-adjacent-frame
    // integer abs-diff mass over the decoded AVI frames. jump=100 shifts
    // the cut frame's per-pixel delta to 113 mod 256 (vs the ordinary 13),
    // and threshold=7000 sits in the gap between the exact worst-case
    // ordinary mass (5996) and the least cut mass (8136) over all id
    // residues — exactly one boundary flags for every document
    Q("multimodal_scene_cut",
      (s, dir) => Multimodal.sceneCutRoundTrip(documents(s, dir), "doc_id",
        w = 6, h = 4, nFrames = 4, cutFrame = 2, jump = 100,
        threshold = 7000L).toDF(),
      Some("""WITH px AS (
             |  SELECT doc_id, gf.f, gx.x, gy.y, gc.c,
             |    (doc_id * 7 + gf.f * 13 + CASE WHEN gf.f >= 2 THEN 100 ELSE 0 END
             |     + gx.x * 3 + gy.y * 11 + gc.c * 5) % 256 AS v
             |  FROM documents, generate_series(0, 3) gf(f),
             |    generate_series(0, 5) gx(x), generate_series(0, 3) gy(y),
             |    generate_series(0, 2) gc(c)),
             |d AS (
             |  SELECT a.doc_id, b.f, sum(abs(b.v - a.v)) AS s
             |  FROM px a JOIN px b ON b.doc_id = a.doc_id AND b.f = a.f + 1
             |    AND b.x = a.x AND b.y = a.y AND b.c = a.c
             |  GROUP BY a.doc_id, b.f)
             |SELECT doc_id AS media_id, CAST(f AS INTEGER) AS frame_idx,
             |  CAST(s AS BIGINT) AS sum_abs_diff, s > 7000 AS is_cut
             |FROM d""".stripMargin)),

    // streaming audio near-dup key on REAL decoded audio: Haitsma-Kalker
    // sub-fingerprints in pure fixed-point (integer DFT against the shared
    // 1024-scaled trig table, band energies, sign-of-difference bits). The
    // trig VALUES list below is generated from the SAME fingerprintTrig
    // array the Scala side uses, so both engines share identical integers
    // by construction
    Q("multimodal_audio_fp",
      (s, dir) => Multimodal.audioFingerprintRoundTrip(documents(s, dir),
        "doc_id", nFrames = 4, sampleRate = 8000).toDF(),
      Some(s"""WITH trig(m, tc, ts) AS (VALUES
             |  ${Multimodal.fingerprintTrig(32).map { case (m, c, sn) =>
                  s"($m, $c, $sn)" }.mkString(", ")}),
             |smp AS (
             |  SELECT doc_id, g.i AS i,
             |    ((doc_id * 37 + g.i * g.i * 17 + g.i * 5) % 4096) - 2048 AS amp
             |  FROM documents, generate_series(0, 127) g(i)),
             |dft AS (
             |  SELECT s.doc_id, s.i // 32 AS f, gk.k,
             |    sum(s.amp * t.tc) AS re, sum(s.amp * t.ts) AS im
             |  FROM smp s, generate_series(1, 16) gk(k), trig t
             |  WHERE t.m = (gk.k * (s.i % 32)) % 32
             |  GROUP BY s.doc_id, s.i // 32, gk.k),
             |eb AS (
             |  SELECT doc_id, f, (k - 1) // 2 AS b,
             |    sum(re * re + im * im) AS e
             |  FROM dft GROUP BY doc_id, f, (k - 1) // 2),
             |bits AS (
             |  SELECT cur.doc_id, cur.f, cur.b,
             |    CASE WHEN (cur.e - curn.e) - (prev.e - prevn.e) > 0
             |      THEN 1 ELSE 0 END AS bit
             |  FROM eb cur
             |  JOIN eb curn ON curn.doc_id = cur.doc_id AND curn.f = cur.f
             |    AND curn.b = cur.b + 1
             |  JOIN eb prev ON prev.doc_id = cur.doc_id AND prev.f = cur.f - 1
             |    AND prev.b = cur.b
             |  JOIN eb prevn ON prevn.doc_id = cur.doc_id AND prevn.f = cur.f - 1
             |    AND prevn.b = cur.b + 1
             |  WHERE cur.b < 7 AND cur.f >= 1)
             |SELECT doc_id AS media_id, CAST(f AS INTEGER) AS frame_idx,
             |  CAST(sum(bit * (1 << b)) AS INTEGER) AS fp
             |FROM bits GROUP BY doc_id, f""".stripMargin)),

    // REAL media pipeline over mixed-format blobs (kind = doc_id % 3:
    // BMP24 / WAV PCM16 / DIB AVI, built by the real encoders, parsed by
    // the real decoders via Multimodal.decodeMedia): typed metadata,
    // decoded-plane features, nearest-neighbor resize, frame sampling.
    // Geometry/pixels are closed-form in (doc_id, n_chars), so every
    // oracle replays the decoded planes exactly.
    Q("multimodal_meta",
      (s, dir) => Multimodal.withMeta(
        Multimodal.withSyntheticBlobs(documents(s, dir), "doc_id", "n_chars"),
        "media_id", "blob").toDF(),
      Some("""SELECT doc_id AS media_id,
             |  CAST(CASE doc_id % 3
             |    WHEN 0 THEN 54 + ((3*(4 + doc_id % 5) + 3) // 4 * 4)
             |                     * (3 + n_chars % 4)
             |    WHEN 1 THEN 44 + 2*(24 + doc_id % 16)
             |    ELSE 224 + (1 + doc_id % 4) *
             |      (8 + ((3*(4 + doc_id % 3) + 3) // 4 * 4) * (2 + n_chars % 3))
             |  END AS BIGINT) AS n_bytes,
             |  CAST(CASE doc_id % 3 WHEN 0 THEN 4 + doc_id % 5
             |    WHEN 1 THEN 24 + doc_id % 16
             |    ELSE 4 + doc_id % 3 END AS INTEGER) AS width,
             |  CAST(CASE doc_id % 3 WHEN 0 THEN 3 + n_chars % 4
             |    WHEN 1 THEN 1 ELSE 2 + n_chars % 3 END AS INTEGER) AS height,
             |  CAST(CASE doc_id % 3 WHEN 1 THEN 1 ELSE 3 END AS INTEGER)
             |    AS channels
             |FROM documents""".stripMargin)),

    // features over the DECODED first plane (RGB raster / PCM16 bytes):
    // 16-bin histogram entropy + mean, replayed byte-for-byte in SQL
    Q("multimodal_features",
      (s, dir) => Multimodal.extractFeatures(
        Multimodal.withSyntheticBlobs(documents(s, dir), "doc_id", "n_chars"),
        "media_id", "blob").toDF()
        .select(col("media_id"), col("width"), col("height"),
          round(col("mean_byte"), 8).as("mean_byte"),
          round(col("byte_entropy"), 8).as("byte_entropy")),
      Some("""WITH geo AS (
             |  SELECT doc_id, n_chars,
             |    CASE doc_id % 3 WHEN 0 THEN 4 + doc_id % 5
             |      ELSE 4 + doc_id % 3 END AS w,
             |    CASE doc_id % 3 WHEN 0 THEN 3 + n_chars % 4
             |      ELSE 2 + n_chars % 3 END AS h
             |  FROM documents WHERE doc_id % 3 != 1),
             |ib AS (
             |  SELECT doc_id,
             |    (doc_id*7 + gx.x*3 + gy.y*11 + gc.c*5) % 256 AS byte
             |  FROM geo, generate_series(0, 8) gx(x),
             |    generate_series(0, 6) gy(y), generate_series(0, 2) gc(c)
             |  WHERE gx.x < w AND gy.y < h),
             |ws AS (
             |  SELECT doc_id,
             |    ((doc_id*31 + gi.i*17) % 4096 - 2048 + 65536) % 65536 AS u
             |  FROM documents, generate_series(0, 39) gi(i)
             |  WHERE doc_id % 3 = 1 AND gi.i < 24 + doc_id % 16),
             |ab AS (SELECT doc_id, u % 256 AS byte FROM ws
             |  UNION ALL SELECT doc_id, u // 256 FROM ws),
             |allb AS (SELECT doc_id, byte FROM ib
             |  UNION ALL SELECT doc_id, byte FROM ab),
             |stats AS (
             |  SELECT doc_id, CAST(sum(byte) AS DOUBLE) / count(*) AS mb,
             |    count(*) AS n
             |  FROM allb GROUP BY doc_id),
             |bins AS (SELECT doc_id, byte // 16 AS bin, count(*) AS c
             |  FROM allb GROUP BY 1, 2),
             |ent AS (
             |  SELECT bins.doc_id,
             |    -sum((CAST(c AS DOUBLE)/n * ln(CAST(c AS DOUBLE)/n)) / ln(2))
             |      AS e
             |  FROM bins JOIN stats ON stats.doc_id = bins.doc_id
             |  GROUP BY bins.doc_id)
             |SELECT d.doc_id AS media_id,
             |  CAST(CASE d.doc_id % 3 WHEN 0 THEN 4 + d.doc_id % 5
             |    WHEN 1 THEN 24 + d.doc_id % 16
             |    ELSE 4 + d.doc_id % 3 END AS INTEGER) AS width,
             |  CAST(CASE d.doc_id % 3 WHEN 0 THEN 3 + d.n_chars % 4
             |    WHEN 1 THEN 1 ELSE 2 + d.n_chars % 3 END AS INTEGER) AS height,
             |  round(stats.mb, 8) AS mean_byte,
             |  round(ent.e, 8) AS byte_entropy
             |FROM documents d
             |JOIN stats ON stats.doc_id = d.doc_id
             |JOIN ent ON ent.doc_id = d.doc_id""".stripMargin)),

    // REAL nearest-neighbor 4x4 thumbnail over the decoded raster
    // (channel 0), image kinds only — audio has no raster to resize
    Q("multimodal_resize",
      (s, dir) => Multimodal.resizeMedia(
        Multimodal.withSyntheticBlobs(
          documents(s, dir).filter(col("doc_id") % 3 =!= 1),
          "doc_id", "n_chars"),
        "media_id", "blob", outW = 4, outH = 4).toDF()
        .select("media_id", "out_w", "out_h", "checksum"),
      Some("""WITH geo AS (
             |  SELECT doc_id,
             |    CASE doc_id % 3 WHEN 0 THEN 4 + doc_id % 5
             |      ELSE 4 + doc_id % 3 END AS w,
             |    CASE doc_id % 3 WHEN 0 THEN 3 + n_chars % 4
             |      ELSE 2 + n_chars % 3 END AS h
             |  FROM documents WHERE doc_id % 3 != 1)
             |SELECT doc_id AS media_id, 4 AS out_w, 4 AS out_h,
             |  CAST(list_sum(list_transform(generate_series(0, 15), k ->
             |    (doc_id*7 + ((k % 4) * w // 4) * 3 + ((k // 4) * h // 4) * 11)
             |      % 256)) AS BIGINT) AS checksum
             |FROM geo""".stripMargin)),

    // REAL frame sampling: AVI frames from the decoder, one frame per
    // still image, 16-sample blocks for audio; per-frame byte checksums
    Q("multimodal_frames",
      (s, dir) => Multimodal.sampleFrames(
        Multimodal.withSyntheticBlobs(documents(s, dir), "doc_id", "n_chars"),
        "media_id", "blob", audioFrameSamples = 16).toDF(),
      Some("""WITH geo AS (
             |  SELECT doc_id, n_chars,
             |    CASE doc_id % 3 WHEN 0 THEN 4 + doc_id % 5
             |      ELSE 4 + doc_id % 3 END AS w,
             |    CASE doc_id % 3 WHEN 0 THEN 3 + n_chars % 4
             |      ELSE 2 + n_chars % 3 END AS h,
             |    CASE doc_id % 3 WHEN 0 THEN 1
             |      ELSE 1 + doc_id % 4 END AS nf
             |  FROM documents WHERE doc_id % 3 != 1),
             |ipx AS (
             |  SELECT g.doc_id, gf.f, g.w, g.h,
             |    (g.doc_id*7 + gf.f*29 + gx.x*3 + gy.y*11 + gc.c*5) % 256 AS v
             |  FROM geo g, generate_series(0, 3) gf(f),
             |    generate_series(0, 8) gx(x), generate_series(0, 6) gy(y),
             |    generate_series(0, 2) gc(c)
             |  WHERE gf.f < g.nf AND gx.x < g.w AND gy.y < g.h),
             |img AS (
             |  SELECT doc_id AS media_id, CAST(f AS INTEGER) AS frame_idx,
             |    CAST(any_value(w) * any_value(h) * 3 AS BIGINT) AS n_bytes,
             |    CAST(sum(v) AS BIGINT) AS checksum
             |  FROM ipx GROUP BY doc_id, f),
             |ws AS (
             |  SELECT doc_id, gi.i // 16 AS f,
             |    ((doc_id*31 + gi.i*17) % 4096 - 2048 + 65536) % 65536 AS u
             |  FROM documents, generate_series(0, 39) gi(i)
             |  WHERE doc_id % 3 = 1 AND gi.i < 24 + doc_id % 16),
             |aud AS (
             |  SELECT doc_id AS media_id, CAST(f AS INTEGER) AS frame_idx,
             |    CAST(2 * count(*) AS BIGINT) AS n_bytes,
             |    CAST(sum(u % 256 + u // 256) AS BIGINT) AS checksum
             |  FROM ws GROUP BY doc_id, f)
             |SELECT * FROM img UNION ALL SELECT * FROM aud""".stripMargin))
  )

  /** DuckDB replay of k BPE merge rounds as chained MATERIALIZED CTEs.
    * Greedy left-to-right merge expressed positionally: position j merges
    * iff it matches the winning pair AND has an even number of consecutive
    * matches immediately before it within its run (run = maximal streak of
    * matching positions). For left≠right pairs adjacent matches cannot
    * overlap so every match merges; for left=right runs ("aaa") the parity
    * rule reproduces the fold's [aa, a]. Words are ≤16 chars in this
    * corpus, so the fixed generate_series bound is safe (symbol counts
    * only shrink as merges apply). */
  /** One shared merge count: the Q definitions, the CTE chain, and the
    * final-table references (w$BpeK) must agree — interpolated everywhere
    * so changing it cannot leave an oracle reading a stale intermediate. */
  private val BpeK = 6

  /** DuckDB-side word-length cap for the positional explodes. Guarded in
    * w0: a longer word gains a '<CAP_EXCEEDED>' sentinel symbol, so
    * truncation surfaces as a loud, traceable hash mismatch instead of a
    * silent oracle-side divergence. (DuckDB evaluates error() eagerly, so
    * an OR-guard raise is not usable.) */
  private val BpeMaxWordLen = 32

  private def bpeOracle(k: Int): String =
    bpeCtes(k) + "\n" + (1 to k).map(i =>
      s"""SELECT CAST($i AS INT) AS step, l AS merge_left, r AS merge_right,
         |  CAST(c AS BIGINT) AS pair_count FROM b$i""".stripMargin)
      .mkString("\nUNION ALL\n")

  private def bpeCtes(k: Int, trainWhere: String = ""): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH words AS MATERIALIZED (
        |  SELECT w, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
        |        FROM documents $trainWhere)
        |  WHERE length(w) > 0 GROUP BY w),
        |w0 AS MATERIALIZED (
        |  SELECT w, cnt,
        |    list(substr(w, CAST(g.i AS INT), 1) ORDER BY g.i)
        |      || CASE WHEN length(w) > $BpeMaxWordLen
        |              THEN ['<CAP_EXCEEDED>'] ELSE [] END AS sym
        |  FROM words, generate_series(1, $BpeMaxWordLen) g(i)
        |  WHERE g.i <= length(w) GROUP BY w, cnt)""".stripMargin)
    for (i <- 1 to k) {
      val p = i - 1
      sb.append(s""",
        |p$i AS (
        |  SELECT l, r, sum(cnt) AS c FROM (
        |    SELECT sym[CAST(g.j AS INT)] AS l, sym[CAST(g.j AS INT) + 1] AS r, cnt
        |    FROM w$p, generate_series(1, $BpeMaxWordLen) g(j)
        |    WHERE g.j <= len(sym) - 1)
        |  GROUP BY l, r),
        |b$i AS MATERIALIZED (SELECT l, r, c FROM p$i ORDER BY c DESC, l, r LIMIT 1),
        |e$i AS (
        |  SELECT w, cnt, sym, CAST(g.j AS INT) AS j,
        |    coalesce(sym[CAST(g.j AS INT)] = (SELECT l FROM b$i)
        |      AND sym[CAST(g.j AS INT) + 1] = (SELECT r FROM b$i), FALSE) AS mt
        |  FROM w$p, generate_series(1, $BpeMaxWordLen) g(j)
        |  WHERE g.j <= len(sym)),
        |m$i AS (
        |  SELECT w, cnt, sym, j, mt,
        |    mt AND (j - 1 - coalesce(max(CASE WHEN NOT mt THEN j END)
        |      OVER (PARTITION BY w ORDER BY j
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)) % 2 = 0 AS mg
        |  FROM e$i),
        |s$i AS (
        |  SELECT w, cnt, sym, j, mg,
        |    coalesce(lag(mg) OVER (PARTITION BY w ORDER BY j), FALSE) AS skip
        |  FROM m$i),
        |w$i AS MATERIALIZED (
        |  SELECT w, cnt,
        |    list(CASE WHEN mg THEN (SELECT l FROM b$i) || (SELECT r FROM b$i)
        |         ELSE sym[j] END ORDER BY j) FILTER (WHERE NOT skip) AS sym
        |  FROM s$i GROUP BY w, cnt)""".stripMargin)
    }
    sb.toString
  }

  /** Quadratic REFEREE baselines — deliberately NOT in `qs`/the driver
    * registry: each is the O(corpus²)-candidate formulation whose result
    * set defines correctness for a registered scale path
    * (`baseline_of` in the note). They exist so ScalePathSpec can prove
    * the blocked/prefix-filtered production plans return the identical
    * pairs; registering them would ship plans that die at 100× data.
    * Oracles retained so tools/oracle_check.py can still audit them
    * ad hoc. */
  val referees: Seq[Q] = Seq(
    // near-dup by 5-token-prefix edit distance, all pairs per source.
    Q("dedup_fuzzy_prefix",
      (s, dir) => {
        val t = graft.ops.Spread.shared(documents(s, dir)
          .select(col("doc_id"), col("source"),
            concat_ws(" ", slice(TA.tokens(col("text")), 1, 5)).as("pfx")))
        val a = t.select(col("source").as("__s"), col("doc_id").as("id_a"),
          col("pfx").as("pfx_a"))
        val b = t.select(col("source").as("__s2"), col("doc_id").as("id_b"),
          col("pfx").as("pfx_b"))
        // lev(a,b) >= |len(a)-len(b)| prunes before any DP runs; the
        // survivors use the THRESHOLDED banded levenshtein (-1 past k).
        graft.ops.Spread.saltedJoin(a, b,
            col("__s") === col("__s2") && col("id_a") < col("id_b") &&
              abs(length(col("pfx_a")) - length(col("pfx_b"))) <= 8,
            col("id_a"), Dedup.SALT)
          .withColumn("edit_dist", levenshtein(col("pfx_a"), col("pfx_b"), 8))
          .filter(col("edit_dist") =!= -1)
          .select("id_a", "id_b", "edit_dist")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, source,
             |    array_to_string((list_filter(string_split(text, ' '),
             |      x -> length(x) > 0))[1:5], ' ') AS pfx
             |  FROM documents)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  CAST(levenshtein(a.pfx, b.pfx) AS INTEGER) AS edit_dist
             |FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
             |WHERE levenshtein(a.pfx, b.pfx) <= 8""".stripMargin),
      note = "baseline_of:dedup_fuzzy_blocked"),

    // all-pairs char-3-gram Jaccard per source.
    Q("dedup_ngram_jaccard",
      (s, dir) => Dedup.ngramJaccardPairs(documents(s, dir), "doc_id", "text",
        "source", 3, 0.8),
      Some("""WITH pos AS (
             |  SELECT doc_id, source, coalesce(text, '') AS text, unnest(generate_series(1, greatest(length(coalesce(text, ''))-2, 1))) AS i
             |  FROM documents),
             |sh AS (SELECT DISTINCT doc_id, source, substr(text, i, 3) AS sh FROM pos),
             |sz AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
             |inter AS (
             |  SELECT a.doc_id id_a, b.doc_id id_b, count(*) i
             |  FROM sh a JOIN sh b ON a.source = b.source AND a.sh = b.sh
             |    AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |SELECT id_a, id_b,
             |  CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
             |FROM inter
             |JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
             |WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8""".stripMargin),
      note = "baseline_of:dedup_jaccard_prefix"),

    // asymmetric containment (Broder): fraction of the SMALLER shingle
    // set inside the larger, all pairs per source.
    Q("dedup_containment",
      (s, dir) => Dedup.containmentPairs(documents(s, dir), "doc_id", "text",
        "source", 3, tNum = 3, tDen = 4),
      Some("""WITH pos AS (
             |  SELECT doc_id, source, coalesce(text, '') AS text,
             |    unnest(generate_series(1, greatest(length(coalesce(text, ''))-2, 1))) AS i
             |  FROM documents),
             |sh AS (SELECT DISTINCT doc_id, source, substr(text, i, 3) AS sh FROM pos),
             |sz AS (SELECT doc_id, CAST(count(*) AS INTEGER) n FROM sh GROUP BY 1),
             |inter AS (
             |  SELECT a.doc_id id_a, b.doc_id id_b, CAST(count(*) AS BIGINT) i
             |  FROM sh a JOIN sh b ON a.source = b.source AND a.sh = b.sh
             |    AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |SELECT id_a, id_b, sa.n AS n_a, sb.n AS n_b, i AS n_shared,
             |  round(CAST(i AS DOUBLE) / least(sa.n, sb.n), 9) AS containment,
             |  CASE WHEN sa.n <= sb.n THEN id_a ELSE id_b END AS contained_id
             |FROM inter
             |JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
             |WHERE i * 4 >= 3 * least(sa.n, sb.n)""".stripMargin),
      note = "baseline_of:dedup_containment_prefix"))
}
