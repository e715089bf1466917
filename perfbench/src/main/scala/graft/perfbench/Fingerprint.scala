package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** What a pass produced, reduced to something two passes can compare. */
final case class Product(name: String, rows: Long, fp: String)

/** Output fingerprints. Tables get a row count plus the commutative hash
  * sum `graft.queries.Fp.tableFp` uses (60-bit row hashes summed mod 2^60,
  * so partitioning and row order do not matter); files get a SHA-256 of
  * their bytes. Doubles are canonicalised to 9 significant digits, which
  * keeps the fingerprint exact for the computed values while ignoring
  * last-ulp differences from summation order. */
object Fingerprint {
  private val Sep = "\u0001"
  private val NullS = "\u0002NULL"

  private def canon(df: DataFrame, name: String): Column = {
    val c = df(name)
    df.schema(name).dataType match {
      case DoubleType | FloatType =>
        coalesce(format_string("%.9g", c.cast("double")), lit(NullS))
      case _ => coalesce(c.cast("string"), lit(NullS))
    }
  }

  /** One-row aggregate (n_rows, fingerprint) over every column of `df`,
    * columns taken in name order. Collecting it forces every output
    * column, unlike a count, which lets the optimiser prune them. */
  def tableAgg(df: DataFrame): DataFrame = {
    val names = df.columns.sorted.toSeq
    val row = if (names.isEmpty) lit("") else concat_ws(Sep, names.map(canon(df, _)): _*)
    df.select(graft.ops.Sketches.hash60c(row).as("__h"))
      .agg(count(lit(1)).as("n_rows"),
        (sum(col("__h").cast("decimal(38,0)")) %
          lit(java.math.BigDecimal.valueOf(graft.queries.Fp.FpMod)))
          .cast("long").as("fp"))
  }

  /** Collect `df`'s [[tableAgg]] into a product. */
  def table(name: String, df: DataFrame): Product = {
    val r = tableAgg(df).collect().head
    Product(name, r.getLong(0), if (r.isNullAt(1)) "empty" else r.getLong(1).toHexString)
  }

  def file(name: String, path: String, rows: Long): Product = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
    Product(name, rows, md.digest().take(16).map(b => f"${b & 0xff}%02x").mkString)
  }

  /** Bytes under a path (a file, or a directory's files recursively). */
  def bytesUnder(path: String): Long = {
    def size(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).map(size).sum
      else if (f.isFile) f.length else 0L
    size(new java.io.File(path))
  }
}
