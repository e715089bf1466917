package graft.functions

/** The one UTF-8 sequence decoder shared by the byte-walking signature
  * kernels (SimhashSig, MinhashSigs). A sequence is read by its lead byte
  * alone, unvalidated, as Spark's `substr` counts characters; continuation
  * bytes past `len` read as 0, so a truncated trailing sequence decodes
  * instead of indexing past the buffer. */
private[functions] object Utf8 {
  /** Byte length of the sequence whose lead byte is `b0` (0..255). */
  def seqLen(b0: Int): Int =
    if (b0 < 0x80) 1
    else if ((b0 & 0xE0) == 0xC0) 2
    else if ((b0 & 0xF0) == 0xE0) 3
    else 4

  /** Codepoint of the sequence starting at `b(i)`, for `i < len`. */
  def codepoint(b: Array[Byte], i: Int, len: Int): Int = {
    def cont(k: Int): Int = if (k < len) b(k) & 0x3F else 0
    val b0 = b(i) & 0xFF
    seqLen(b0) match {
      case 1 => b0
      case 2 => ((b0 & 0x1F) << 6) | cont(i + 1)
      case 3 => ((b0 & 0x0F) << 12) | (cont(i + 1) << 6) | cont(i + 2)
      case _ => ((b0 & 0x07) << 18) | (cont(i + 1) << 12) |
        (cont(i + 2) << 6) | cont(i + 3)
    }
  }
}
