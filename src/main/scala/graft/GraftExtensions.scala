package graft

import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Coalesce, Expression, ExpressionInfo, Literal}
import graft.functions.{AdjacentWordPairs, DotProduct, DupNgramFraction, IntDotProduct, JaroWinkler, NfcNormalize, QualityScore, ShingleKeys3, SortedIntersectCount, WordNgramsExpr}

/**
 * Injectable Spark session extensions — the standard deployment path for
 * graft's native Catalyst expressions on a shared cluster:
 *
 *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
 *
 * registers the codegen'd array kernels as SQL functions in every session
 * without driver-side code:
 *
 *  - `graft_dot(a, b)`               — dot product of two DOUBLE arrays
 *  - `graft_int_dot(a, b)`           — BIGINT dot product of two INT arrays
 *  - `graft_sorted_intersect(a, b)`  — |a ∩ b| of two sorted BIGINT arrays
 *  - `graft_jaro_winkler(a, b)`      — Jaro-Winkler similarity of two strings
 *  - `graft_nfc(s)`                  — Unicode NFC normalization
 *  - `graft_quality(s)`              — single-pass text-quality score
 *  - `graft_dup_ngram_frac(s, n)`    — duplicate word-n-gram fraction
 *  - `graft_word_ngrams(s, n)`       — space-joined word n-gram array
 *  - `graft_adjacent_pairs(s)`       — adjacent (w1, w2) token structs
 *  - `graft_shingle_keys3(s)`        — sorted distinct packed 3-shingles
 *
 * All are full Catalyst `Expression`s with `doGenCode`, so they stay
 * inside whole-stage codegen (Spark's lambda HOFs are interpreted per
 * element and measured ~10x slower on the same workloads — NOTES round 1).
 * The r17/r18 kernels (SimhashSig, MinhashSigs, KmArgmin, JlProject,
 * Md5Prefix, BloomContainsAll) are not registered as SQL functions.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** The n-gram size argument must be a non-null integer LITERAL — the
    * kernel bakes `n` into generated code, so a per-row n is not
    * expressible. Checked at resolution time with a clear analysis error
    * (a bare `eval().asInstanceOf[Int]` would NPE on NULL and
    * ClassCastException on a BIGINT literal). Any integral literal type
    * is accepted via `Number.intValue` (SQL integer literals parse as
    * INT, but `CAST(3 AS BIGINT)` folds to a BIGINT literal). */
  private def literalN(fn: String, e: Expression): Int = {
    def fail(what: String): Nothing = throw new AnalysisException(
      "USER_RAISED_EXCEPTION",
      Map("errorMessage" ->
        s"$fn requires a non-null foldable integer literal for the n-gram size; got $what"))
    if (!e.foldable) fail(s"non-foldable expression ${e.sql}")
    e.eval() match {
      case null => fail("NULL")
      case n: java.lang.Number => n.intValue()
      case other => fail(s"a ${e.dataType.sql} value '$other'")
    }
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_sorted_intersect"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName,
        "graft_sorted_intersect"),
      (exprs: Seq[Expression]) => SortedIntersectCount(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinkler].getName, "graft_jaro_winkler"),
      (exprs: Seq[Expression]) => JaroWinkler(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_int_dot"),
      new ExpressionInfo(classOf[IntDotProduct].getName, "graft_int_dot"),
      (exprs: Seq[Expression]) => IntDotProduct(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc"),
      (exprs: Seq[Expression]) => NfcNormalize(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_quality"),
      new ExpressionInfo(classOf[QualityScore].getName, "graft_quality"),
      (exprs: Seq[Expression]) => QualityScore(exprs(0))))
    // Registered in the coalesced Column-wrapper form (null text → 0.0 /
    // array()) so a SQL-only deployment reproduces exactly the driver-side
    // semantics — the bare case classes null-propagate.
    ext.injectFunction((
      FunctionIdentifier("graft_dup_ngram_frac"),
      new ExpressionInfo(classOf[DupNgramFraction].getName,
        "graft_dup_ngram_frac"),
      (exprs: Seq[Expression]) => Coalesce(Seq(
        DupNgramFraction(exprs(0), literalN("graft_dup_ngram_frac", exprs(1))),
        Literal(0.0)))))
    ext.injectFunction((
      FunctionIdentifier("graft_word_ngrams"),
      new ExpressionInfo(classOf[WordNgramsExpr].getName, "graft_word_ngrams"),
      (exprs: Seq[Expression]) => Coalesce(Seq(
        WordNgramsExpr(exprs(0), literalN("graft_word_ngrams", exprs(1))),
        Literal.create(Array.empty[String],
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StringType, containsNull = false))))))
    ext.injectFunction((
      FunctionIdentifier("graft_adjacent_pairs"),
      new ExpressionInfo(classOf[AdjacentWordPairs].getName,
        "graft_adjacent_pairs"),
      (exprs: Seq[Expression]) => AdjacentWordPairs(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_shingle_keys3"),
      new ExpressionInfo(classOf[ShingleKeys3].getName, "graft_shingle_keys3"),
      (exprs: Seq[Expression]) => ShingleKeys3(exprs(0))))
  }
}
