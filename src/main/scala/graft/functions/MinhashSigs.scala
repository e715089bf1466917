package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Whole-document MinHash signature (k=3 char shingles) in ONE pass — the
 * fused form of
 *
 *   explode(array_distinct(3-char substr windows))
 *   → x = ascii(c1)·65536 + ascii(c2)·256 + ascii(c3)
 *   → numHashes min(hashAbModP(a_i, b_i, x)) aggregates grouped by doc
 *
 * which cost a corpus-shingle explode and a full groupBy exchange per
 * signature build. Result: array of numHashes mins; NULL for null text
 * (whose single null shingle made every min null — callers read the
 * elements through element_at, so null array ≡ all-null mins).
 *
 * Exactness (MinhashSigsSpec proves bit-equality against the SQL form):
 *  - windows count CODEPOINTS exactly like substr (a 4-byte UTF-8
 *    sequence is one char; ascii() yields the full codepoint);
 *  - documents shorter than 3 chars yield their single short window,
 *    missing chars packing as ascii('') = 0, empty text packing x = 0;
 *  - distinctness is by the exact codepoint triple (codepoints < 2^21,
 *    so the 63-bit pack used for dedup is injective — string-distinct
 *    and triple-distinct coincide);
 *  - the hash is the same 22-bit-limb (a·x + b) mod P arithmetic as
 *    Dedup.hashAbModP, exact for x < 2^45.
 *
 * eval and codegen share one static helper.
 */
case class MinhashSigsExpr(child: Expression, numHashes: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(numHashes >= 1 && numHashes <= 256, s"bad numHashes $numHashes")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    MinhashSigs.compute(input.asInstanceOf[UTF8String], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MinhashSigs$$.MODULE$$.compute($c, $numHashes);")

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

object MinhashSigs {
  import org.apache.spark.sql.{GraftColumnBridge => EU}

  private final val P: Long = 2147483647L // 2^31-1, = Dedup.P

  // (a, b) pairs, same derivation as Dedup.hashParams (Simhash.params
  // shares the cache shape; kept separate to avoid cross-object init)
  private val paramCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()

  private def params(k: Int): Array[Long] =
    paramCache.computeIfAbsent(k, n => {
      val arr = new Array[Long](2 * n)
      var i = 0
      while (i < n) {
        val a0 = (2654435761L * (i + 1)) % P
        arr(2 * i) = if (a0 % 2 == 0) a0 + 1 else a0
        arr(2 * i + 1) = (40503L * (i + 7) * (i + 7)) % P
        i += 1
      }
      arr
    })

  /** Signature array, or null (null input is handled by the caller). */
  def compute(text: UTF8String, numHashes: Int): ArrayData = {
    val ab = params(numHashes)
    // decode codepoints once (substr counts UTF-8 sequences as chars)
    val b = text.getBytes
    var n = 0
    val cps = new Array[Int](b.length)
    var i = 0
    while (i < b.length) {
      cps(n) = Utf8.codepoint(b, i, b.length); n += 1
      i += Utf8.seqLen(b(i) & 0xFF)
    }
    // windows: substr(text, w, 3) for w = 1 .. max(len-2, 1) — one short
    // window for len < 3 (missing chars pack as 0)
    val nw = math.max(n - 2, 1)
    val triples = new Array[Long](nw)
    var w = 0
    while (w < nw) {
      val c1 = if (w < n) cps(w) else 0
      val c2 = if (w + 1 < n) cps(w + 1) else 0
      val c3 = if (w + 2 < n) cps(w + 2) else 0
      // injective 63-bit pack (codepoints < 2^21) — dedup key only
      triples(w) = (c1.toLong << 42) | (c2.toLong << 21) | c3.toLong
      w += 1
    }
    java.util.Arrays.sort(triples)
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var t = 0
    var prev = -1L
    while (t < nw) {
      val tr = triples(t)
      if (t == 0 || tr != prev) {
        // the lossy hash input x = c1·65536 + c2·256 + c3 (shingleKey)
        val c1 = (tr >> 42) & 0x1FFFFF
        val c2 = (tr >> 21) & 0x1FFFFF
        val c3 = tr & 0x1FFFFF
        val x = c1 * 65536L + c2 * 256L + c3
        val hi = x >> 22
        val lo = x & ((1L << 22) - 1)
        var j = 0
        while (j < numHashes) {
          val h = ((ab(2 * j) * hi) % P * (1L << 22) + ab(2 * j) * lo +
            ab(2 * j + 1)) % P
          if (h < mins(j)) mins(j) = h
          j += 1
        }
      }
      prev = tr
      t += 1
    }
    new GenericArrayData(mins)
  }

  /** MinHash signature column (array of numHashes longs; null for null
    * text). */
  def sigs(c: Column, numHashes: Int): Column =
    EU.column(MinhashSigsExpr(EU.expression(c), numHashes))
}
