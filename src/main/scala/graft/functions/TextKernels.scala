package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Single-pass codegen'd text-quality kernels. The Column formulations of
 * these signals (`TextAnalysis.qualityScore` / `duplicateNgramFraction`)
 * are correct but explode under Catalyst's projection inlining: the
 * executed plan evaluates `filter(split(text))` ~15× and the 3-gram
 * `transform` 4× per row, all as interpreted higher-order functions
 * (measured: the quality_rank_fusion signal projection was a 3.8 s
 * broadcast-build stage at sf0.1 for 5 000 docs — NOTES.md).
 * Each kernel here walks the UTF-8 bytes once inside whole-stage codegen.
 *
 * Cross-engine parity is preserved operation-for-operation: character
 * counts are code points (Spark `length` ≡ DuckDB `length`), token
 * boundaries are single 0x20 bytes (a UTF-8 continuation byte can never
 * equal 0x20), the double arithmetic mirrors the Column expression's tree
 * shape exactly, and n-gram distinctness compares the joined UTF-8 bytes
 * — identical to string equality of `concat_ws(' ', …)`.
 */
object TextKernels {

  /** Code points, spaces, and non-empty-token count in one byte pass. */
  private def scan(bytes: Array[Byte]): (Int, Int, Int) = {
    var chars = 0; var spaces = 0; var toks = 0
    var inTok = false
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      if ((b & 0xC0) != 0x80) { // not a UTF-8 continuation byte
        chars += 1
        if (b == 0x20) { spaces += 1; inTok = false }
        else if (!inTok) { toks += 1; inTok = true }
      }
      i += 1
    }
    (chars, spaces, toks)
  }

  /** Mirror of `TextAnalysis.qualityScore`: length sweet spot (0.6) +
    * mean-token-length band (0.4); a 0-token doc's NULL mean falls to the
    * 0.5 band exactly like the Column form's `otherwise`. */
  def qualityScore(u: UTF8String): Double = {
    val (chars, spaces, toks) = scan(u.getBytes)
    val lenScore =
      if (chars >= 100 && chars <= 400) 1.0
      else if (chars < 100) chars.toDouble / 100.0
      else 400.0 / chars.toDouble
    val mtlOk = toks > 0 && {
      val mtl = (chars - spaces).toDouble / toks.toDouble
      mtl >= 3.0 && mtl <= 8.0
    }
    lenScore * 0.6 + (if (mtlOk) 1.0 else 0.5) * 0.4
  }

  /** Non-empty-token byte spans (start, end) for space-split text. */
  private def tokenSpans(bytes: Array[Byte]): (Array[Int], Array[Int], Int) = {
    val starts = new Array[Int](bytes.length / 2 + 1)
    val ends = new Array[Int](bytes.length / 2 + 1)
    var nt = 0
    var i = 0; var tokStart = -1
    while (i < bytes.length) {
      if (bytes(i) == 0x20) {
        if (tokStart >= 0) { starts(nt) = tokStart; ends(nt) = i; nt += 1
          tokStart = -1 }
      } else if (tokStart < 0) tokStart = i
      i += 1
    }
    if (tokStart >= 0) { starts(nt) = tokStart; ends(nt) = bytes.length
      nt += 1 }
    (starts, ends, nt)
  }

  /** Mirror of `TextAnalysis.wordNgrams(tokens(text), n)`: the space-joined
    * word n-gram array (empty below n tokens), built in one byte pass —
    * the explode-input form every decontam/dedup/PMI consumer uses. */
  def wordNgrams(u: UTF8String, n: Int):
      org.apache.spark.sql.catalyst.util.ArrayData = {
    val bytes = u.getBytes
    val (starts, ends, nt) = tokenSpans(bytes)
    val total = nt - (n - 1)
    if (total <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    val out = new Array[Any](total)
    var g = 0
    while (g < total) {
      var len = n - 1
      var j = 0
      while (j < n) { len += ends(g + j) - starts(g + j); j += 1 }
      val gram = new Array[Byte](len)
      var off = 0
      j = 0
      while (j < n) {
        val s = starts(g + j); val l = ends(g + j) - s
        System.arraycopy(bytes, s, gram, off, l)
        off += l
        if (j < n - 1) { gram(off) = 0x20; off += 1 }
        j += 1
      }
      out(g) = UTF8String.fromBytes(gram)
      g += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Sorted distinct base-256-packed 3-codepoint shingle keys — the
    * prefix-filter/containment set representation (see Dedup.shingleKeys3).
    * Exact edge parity with the SQL form: below 3 code points a single
    * short shingle is emitted whose missing positions contribute
    * `ascii('') = 0`; the empty string yields the single key 0. */
  def shingleKeys3(u: UTF8String):
      org.apache.spark.sql.catalyst.util.ArrayData = {
    val s = u.toString
    val nu = s.length
    var n = 0 // code point count
    var i = 0
    while (i < nu) { i += Character.charCount(s.codePointAt(i)); n += 1 }
    val cps = new Array[Int](n)
    i = 0; var ci = 0
    while (i < nu) {
      val cp = s.codePointAt(i); cps(ci) = cp; ci += 1
      i += Character.charCount(cp)
    }
    val count = math.max(n - 2, 1)
    val keys = new Array[Long](count)
    var g = 0
    while (g < count) {
      val c1 = if (g < n) cps(g).toLong else 0L
      val c2 = if (g + 1 < n) cps(g + 1).toLong else 0L
      val c3 = if (g + 2 < n) cps(g + 2).toLong else 0L
      keys(g) = c1 * 65536L + c2 * 256L + c3
      g += 1
    }
    java.util.Arrays.sort(keys)
    var out = 0
    var j = 0
    while (j < count) {
      if (j == 0 || keys(j) != keys(j - 1)) { keys(out) = keys(j); out += 1 }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(keys, out))
  }

  /** Adjacent non-empty token pairs as (w1, w2) struct rows — see
    * [[AdjacentWordPairs]]. */
  def adjacentPairs(u: UTF8String):
      org.apache.spark.sql.catalyst.util.ArrayData = {
    val bytes = u.getBytes
    val (starts, ends, nt) = tokenSpans(bytes)
    if (nt < 2)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    val out = new Array[Any](nt - 1)
    var i = 0
    while (i < nt - 1) {
      out(i) = org.apache.spark.sql.catalyst.InternalRow(
        UTF8String.fromBytes(java.util.Arrays.copyOfRange(
          bytes, starts(i), ends(i))),
        UTF8String.fromBytes(java.util.Arrays.copyOfRange(
          bytes, starts(i + 1), ends(i + 1))))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Mirror of `TextAnalysis.duplicateNgramFraction(tokens(text), n)`:
    * 1 − distinct/total over space-joined word n-grams, 0.0 when the doc
    * has fewer than n tokens (including the empty/null-token cases the
    * Column form folds to `array()`). */
  def dupNgramFraction(u: UTF8String, n: Int): Double = {
    val bytes = u.getBytes
    // collect (start, end) byte spans of non-empty tokens
    val starts = new java.util.ArrayList[Integer]()
    val ends = new java.util.ArrayList[Integer]()
    var i = 0; var tokStart = -1
    while (i < bytes.length) {
      if (bytes(i) == 0x20) {
        if (tokStart >= 0) { starts.add(tokStart); ends.add(i); tokStart = -1 }
      } else if (tokStart < 0) tokStart = i
      i += 1
    }
    if (tokStart >= 0) { starts.add(tokStart); ends.add(bytes.length) }
    val nt = starts.size()
    val total = nt - (n - 1)
    if (total <= 0) return 0.0
    val seen = new java.util.HashSet[java.nio.ByteBuffer](total * 2)
    var distinct = 0
    var g = 0
    while (g < total) {
      var len = n - 1 // the joining spaces
      var j = 0
      while (j < n) { len += ends.get(g + j) - starts.get(g + j); j += 1 }
      val gram = new Array[Byte](len)
      var off = 0
      j = 0
      while (j < n) {
        val s = starts.get(g + j); val l = ends.get(g + j) - s
        System.arraycopy(bytes, s, gram, off, l)
        off += l
        if (j < n - 1) { gram(off) = 0x20; off += 1 }
        j += 1
      }
      if (seen.add(java.nio.ByteBuffer.wrap(gram))) distinct += 1
      g += 1
    }
    (total - distinct).toDouble / total.toDouble
  }
}

/** Codegen'd [[TextKernels.qualityScore]]; null text → null (like the
  * Column form, whose `length(null)` propagates). */
case class QualityScore(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes {
  override def dataType: DataType = DoubleType
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def nullSafeEval(s: Any): Any =
    TextKernels.qualityScore(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.TextKernels.qualityScore($s);")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object QualityScore {
  def apply(c: Column): Column = {
    import org.apache.spark.sql.{GraftColumnBridge => EU}
    EU.column(QualityScore(EU.expression(c)))
  }
}

/** Codegen'd [[TextKernels.dupNgramFraction]] (null-propagating; the
  * Column wrapper coalesces null text to 0.0, matching the Column form
  * that folds a null token array to `array()` → fraction 0.0). */
case class DupNgramFraction(child: Expression, n: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def dataType: DataType = DoubleType
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def nullSafeEval(s: Any): Any =
    TextKernels.dupNgramFraction(s.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.TextKernels.dupNgramFraction($s, $n);")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object DupNgramFraction {
  /** Column form; null text folds to 0.0 like the HOF formulation. */
  def apply(c: Column, n: Int): Column = {
    import org.apache.spark.sql.{GraftColumnBridge => EU}
    org.apache.spark.sql.functions.coalesce(
      EU.column(DupNgramFraction(EU.expression(c), n)),
      org.apache.spark.sql.functions.lit(0.0))
  }
}

/** Codegen'd [[TextKernels.shingleKeys3]] (null-propagating like the SQL
  * form, whose length(null) collapses the whole expression to null). */
case class ShingleKeys3(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def nullSafeEval(s: Any): Any =
    TextKernels.shingleKeys3(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.TextKernels.shingleKeys3($s);")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object ShingleKeys3 {
  def apply(c: Column): Column = {
    import org.apache.spark.sql.{GraftColumnBridge => EU}
    EU.column(ShingleKeys3(EU.expression(c)))
  }
}

/** Codegen'd adjacent-word pair extraction: text → array of (w1, w2)
  * structs for consecutive non-empty space-split tokens — the TextRank
  * co-occurrence edge generator, one byte walk instead of the interpreted
  * `transform(sequence, struct(element_at, element_at))` form. */
case class AdjacentWordPairs(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("w1",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("w2",
          org.apache.spark.sql.types.StringType, nullable = false))),
      containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def nullSafeEval(s: Any): Any =
    TextKernels.adjacentPairs(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.TextKernels.adjacentPairs($s);")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object AdjacentWordPairs {
  def apply(c: Column): Column = {
    import org.apache.spark.sql.{GraftColumnBridge => EU}
    EU.column(AdjacentWordPairs(EU.expression(c)))
  }
}

/** Codegen'd [[TextKernels.wordNgrams]] (null-propagating; the Column
  * wrapper folds null text to the empty array, matching the HOF form's
  * `otherwise(array())`). */
case class WordNgramsExpr(child: Expression, n: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def nullSafeEval(s: Any): Any =
    TextKernels.wordNgrams(s.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.TextKernels.wordNgrams($s, $n);")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object WordNgramsExpr {
  /** Column form; null text folds to the empty gram array. */
  def apply(c: Column, n: Int): Column = {
    import org.apache.spark.sql.{GraftColumnBridge => EU}
    import org.apache.spark.sql.functions.{array, coalesce}
    coalesce(EU.column(WordNgramsExpr(EU.expression(c), n)),
      array().cast("array<string>"))
  }
}
