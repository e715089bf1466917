package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Whole-document SimHash signature in ONE pass over the text — the fused
 * form of the SQL pipeline
 *
 *   explode(split(text, " ")) → filter(length > 0)
 *   → x = Σ ascii(substr(tok, i, 1)) · 256^(4−i)  (first 4 codepoints)
 *   → numBits per-bit sums of ((hashAbModP(a_j, b_j, x) % 2) · 2 − 1)
 *   → groupBy(doc) → Σ_j (s_j > 0 ? 2^j : 0)
 *
 * which cost a corpus-token explode, numBits hash evaluations per token
 * ROW, and a full groupBy exchange per signature build. Here the token
 * scan, the 4-codepoint pack, the (a·x+b) mod P limb arithmetic and the
 * per-bit majority vote all run inside one expression per document — no
 * explode, no exchange; the signature build becomes a pure projection.
 *
 * Exactness: byte-for-byte the same tokens (maximal runs of non-0x20
 * bytes — split's " " pattern only ever matches the space byte, which
 * cannot occur inside a multi-byte UTF-8 sequence), the same full
 * codepoints (Spark's ascii() returns codePointAt(0), surrogates
 * included), the same exact integer hash (every intermediate < 2^54, the
 * proof in Dedup.hashAbModP's scaladoc), and the same null semantics: a
 * document with NO tokens (null / empty / all-spaces text) yielded no
 * exploded rows and so no signature row — the kernel returns NULL and
 * [[graft.ops.Dedup.simhash]] filters it, preserving the row set.
 * SimhashSigSpec proves bit-equality against the SQL form, interpreted
 * and codegen, on the corpus plus CJK/emoji/empty/whitespace edges.
 *
 * eval and codegen share one static helper, so the interpreted and
 * generated paths cannot diverge.
 */
case class SimhashSigExpr(child: Expression, numBits: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(numBits >= 1 && numBits <= 63,
    s"numBits must be in [1, 63] to fit a signed long; got $numBits")

  override def dataType: DataType = LongType
  override def inputTypes: Seq[DataType] = Seq(StringType)
  // NULL for a non-null token-free input — must not inherit child
  // nullability (the JlProjectExpr lesson: a non-nullable child would let
  // the optimizer drop the null guard this expression needs)
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val v = Simhash.compute(input.asInstanceOf[UTF8String], numBits)
    if (v == Simhash.NoTokens) null else java.lang.Long.valueOf(v)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = ctx.freshName("sig")
    // NoTokens == Long.MinValue, inlined as the literal so the generated
    // code needs no Scala-object accessor; compute is called through the
    // module instance (static forwarders are not reliably visible to
    // Janino)
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |long $v = graft.functions.Simhash$$.MODULE$$.compute($c, $numBits);
         |if ($v == java.lang.Long.MIN_VALUE) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $v;
         |}
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

object Simhash {
  import org.apache.spark.sql.{GraftColumnBridge => EU}

  /** Sentinel for "no tokens" (a real signature is a sum of distinct
    * 2^j with j < 63 — always >= 0). */
  final val NoTokens: Long = Long.MinValue

  private final val P: Long = 2147483647L // 2^31-1, = Dedup.P

  // (a, b) per bit — the same derivation as Dedup.hashParams; cached per
  // width (the registered queries all use 16)
  private val paramCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()

  private[graft] def params(numBits: Int): Array[Long] =
    paramCache.computeIfAbsent(numBits, k => {
      val arr = new Array[Long](2 * k)
      var i = 0
      while (i < k) {
        val a0 = (2654435761L * (i + 1)) % P
        arr(2 * i) = if (a0 % 2 == 0) a0 + 1 else a0
        arr(2 * i + 1) = (40503L * (i + 7) * (i + 7)) % P
        i += 1
      }
      arr
    })

  /** One-pass signature; [[NoTokens]] when the text holds no token. */
  def compute(text: UTF8String, numBits: Int): Long = {
    val ab = params(numBits)
    val b = text.getBytes
    val len = b.length
    val sums = new Array[Long](numBits)
    var any = false
    var i = 0
    while (i < len) {
      while (i < len && b(i) == 0x20) i += 1
      if (i < len) {
        // token: pack the first 4 codepoints exactly like the SQL form
        // x = c1·16777216 + c2·65536 + c3·256 + c4 (missing chars → 0)
        var x = 0L
        var ci = 0
        while (i < len && b(i) != 0x20) {
          val cp = Utf8.codepoint(b, i, len)
          if (ci == 0) x += cp.toLong * 16777216L
          else if (ci == 1) x += cp.toLong * 65536L
          else if (ci == 2) x += cp.toLong * 256L
          else if (ci == 3) x += cp.toLong
          ci += 1
          i += Utf8.seqLen(b(i) & 0xFF)
        }
        any = true
        val hi = x >> 22
        val lo = x & ((1L << 22) - 1)
        var j = 0
        while (j < numBits) {
          val h = ((ab(2 * j) * hi) % P * (1L << 22) + ab(2 * j) * lo +
            ab(2 * j + 1)) % P
          sums(j) += (h & 1L) * 2L - 1L
          j += 1
        }
      }
    }
    if (!any) NoTokens
    else {
      var sig = 0L
      var j = 0
      while (j < numBits) {
        if (sums(j) > 0) sig |= 1L << j
        j += 1
      }
      sig
    }
  }

  /** SimHash signature column; NULL when the text has no tokens. */
  def simhashSig(c: Column, numBits: Int): Column =
    EU.column(SimhashSigExpr(EU.expression(c), numBits))
}
