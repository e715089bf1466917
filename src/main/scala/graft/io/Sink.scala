package graft.io

import graft.core.Meta
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Output encoding + write conventions (SURVEY §2.2). Parquet is the
 * canonical clean-data format (the reference's netCDF role); encodings
 * mirror the reference's dtype rules: float data stored float32,
 * coordinates never null, naming conventions preserved.
 */
object Sink {

  /** set_var_dtype: encode double data vars as float32 unless listed
    * (stglib/core/utils.py:856-859). */
  def encodeFloat32(df: DataFrame, keep64: Seq[String] = Seq("time")): DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      if (f.dataType == DoubleType && !keep64.contains(f.name))
        d.withColumn(f.name, col(f.name).cast(FloatType))
      else d
    }

  /** Output naming convention (stglib/rsk/cdf2nc.py:127-149 and co.):
    * -raw (ingest), b (burst clean), -a (averaged clean), s-a (stats). */
  def conventionName(base: String, step: String): String = step match {
    case "raw"   => s"$base-raw"
    case "clean" => s"${base}b"
    case "avg"   => s"$base-a"
    case "stats" => s"${base}s-a"
    case other   => s"$base-$other"
  }

  /** Dev-tool hook ([[graft.tools.AuditAll]]): observes every frame as a
    * CLI chain writes it, so chain plans get the same scale anti-pattern
    * sweep as registered queries. Never set in production paths. */
  @volatile var planProbe: Option[(String, DataFrame) => Unit] = None

  /** Write the canonical parquet: float32 encodings, global attrs as a
    * sidecar JSON (the ds.attrs persistence), optional partitioning (the
    * per-profile split-file analog, stglib/rsk/cdf2nc.py:212-239). */
  def writeParquet(df: DataFrame, path: String, meta: Meta,
                   partitionBy: Seq[String] = Nil,
                   float32: Boolean = true): Unit = {
    planProbe.foreach(f => f(path, df))
    val encoded = if (float32) encodeFloat32(df) else df
    val w = encoded.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
    // sidecar attrs: provenance + config (history/note accumulation,
    // stglib/core/utils.py:238-250)
    val json = meta.attrs.toSeq.sortBy(_._1).map { case (k, v) =>
      s""""${esc(k)}": "${esc(v.toString)}""""
    }.mkString("{", ", ", "}")
    val fs = new java.io.File(path)
    if (fs.isDirectory)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(path, "_graft_attrs.json"), json)
  }

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    }

  /** Read a dataset's `_graft_attrs.json` sidecar back (the reference
    * re-opens raw-.cdf attrs at each step). Flat string-to-string JSON as
    * written above; empty if absent. */
  def readSidecar(path: String): Map[String, String] = {
    val p = java.nio.file.Paths.get(path, "_graft_attrs.json")
    if (!java.nio.file.Files.exists(p)) return Map.empty
    val s = java.nio.file.Files.readString(p).trim
    // tokenize "k": "v" pairs, honoring backslash escapes inside strings;
    // bounds-checked so a truncated (crash/disk-full mid-write) sidecar
    // fails with a clear message, not a StringIndexOutOfBoundsException
    def corrupt(): Nothing = throw new IllegalArgumentException(
      s"corrupt attrs sidecar (truncated mid-string): $p")
    val out = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    def readString(): String = {
      if (i >= s.length || s(i) != '"') corrupt()
      i += 1
      val b = new StringBuilder
      while (i < s.length && s(i) != '"') {
        if (s(i) == '\\') {
          i += 1
          if (i >= s.length) corrupt()
          s(i) match {
            case 'n' => b.append('\n')
            case 'u' =>
              if (i + 5 > s.length) corrupt()
              b.append(Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar); i += 4
            case c => b.append(c)
          }
        } else b.append(s(i))
        i += 1
      }
      if (i >= s.length) corrupt()
      i += 1
      b.toString
    }
    while (i < s.length) {
      if (s(i) == '"') {
        val k = readString()
        while (i < s.length && s(i) != '"') i += 1
        if (i >= s.length) corrupt()
        val v = readString()
        out(k) = v
      } else i += 1
    }
    out.toMap
  }

  /** Append a provenance line (insert_history, stglib/core/utils.py:238-250);
    * timestamps injected by the caller for determinism. */
  def insertHistory(meta: Meta, text: String, timestamp: String): Meta = {
    val prev = meta.str("history").getOrElse("")
    meta + ("history" -> s"$prev$timestamp: $text\n")
  }
}
