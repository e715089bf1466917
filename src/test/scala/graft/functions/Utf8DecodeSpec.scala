package graft.functions

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Text cast from arbitrary binary can end inside a UTF-8 sequence. The
  * signature kernels must decode such text without reading past the
  * buffer: missing continuation bytes read as 0, so a truncated text signs
  * exactly like its completion with zero-payload continuation bytes. */
class Utf8DecodeSpec extends AnyFunSuite with SharedSpark {

  // (truncated, completed): 'a' + 2 of 3 bytes; a lone 2-byte lead;
  // 'x ' + 2 of 4 bytes of an astral codepoint
  private val pairs = Seq(
    ("X'61E282'", "X'61E28280'"),
    ("X'C3'", "X'C380'"),
    ("X'7820F09F'", "X'7820F09F8080'"))

  private def signed(hexes: Seq[String]) = spark.sql(hexes.zipWithIndex
      .map { case (h, i) => s"SELECT $i AS id, cast($h AS string) AS text" }
      .mkString(" UNION ALL "))
    .select(col("id"), Simhash.simhashSig(col("text"), 16).as("sh"),
      MinhashSigs.sigs(col("text"), 16).as("mh"))
    .orderBy("id").collect()
    .map(r => (r.getLong(1), r.getSeq[Long](2)))

  test("truncated sequences sign like their zero-padded completions") {
    val truncated = signed(pairs.map(_._1))
    assert(truncated.length == pairs.length)
    assert(truncated.toSeq == signed(pairs.map(_._2)).toSeq)
  }

  test("interpreted compute agrees on truncated input") {
    import org.apache.spark.unsafe.types.UTF8String
    val bytes = Array(0x61, 0xE2, 0x82).map(_.toByte)
    val t = UTF8String.fromBytes(bytes)
    val padded = UTF8String.fromBytes(bytes :+ 0x80.toByte)
    assert(Simhash.compute(t, 16) == Simhash.compute(padded, 16))
    assert(MinhashSigs.compute(t, 16).toLongArray.toSeq ==
      MinhashSigs.compute(padded, 16).toLongArray.toSeq)
  }
}
