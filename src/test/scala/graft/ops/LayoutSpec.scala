package graft.ops

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Z-order layout invariants: the Morton interleave is bit-exact against a
  * from-definition reference, and bucketing by the key actually delivers
  * the 2-D locality that justifies it (each bucket's bounding box covers a
  * small fraction of both dimension ranges). */
class LayoutSpec extends AnyFunSuite with SharedSpark {
  private def mortonRef(a: Long, b: Long, bits: Int): Long =
    (0 until bits).foldLeft(0L)((acc, i) =>
      acc | (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1)))

  test("interleave2 matches the from-definition Morton reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val vals = Seq((0L, 0L), (65535L, 65535L), (1L, 0L), (0L, 1L)) ++
      Seq.fill(50)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    val got = vals.toDF("a", "b")
      .withColumn("z", Layout.interleave2(col("a"), col("b"), 16))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    for ((a, b) <- vals)
      assert(got((a, b)) == mortonRef(a, b, 16), s"($a,$b)")
    // canonical values: interleave(1,0)=1, interleave(0,1)=2, max -> all ones
    assert(got((1L, 0L)) == 1L && got((0L, 1L)) == 2L)
    assert(got((65535L, 65535L)) == (1L << 32) - 1)
  }

  test("zorder2 buckets have tight 2-D bounding boxes (the locality win)") {
    import spark.implicits._
    val rnd = new scala.util.Random(9)
    val rows = (0L until 4096L).map(i =>
      (i, rnd.nextInt(1000000).toLong, rnd.nextLong() % 1000000000000L))
    val df = rows.toDF("id", "u", "t")
    val out = Layout.zorder2(df, "id", col("u"), col("t"),
      bits = 16, nBuckets = 16)
    val joined = df.join(out, "id")
    // every row landed in a bucket; z covers the full 32-bit space
    assert(out.count() == 4096)
    assert(out.agg(max("bucket")).head.getInt(0) <= 15)
    // per-bucket bounding boxes: with 16 buckets the Morton top-4 bits are
    // dim2's top 2 bits and dim1's top 2 bits, so each bucket spans at most
    // 1/4 of EACH dimension's range — the multi-dimensional pruning claim
    val spans = joined.groupBy("bucket").agg(
        (max("u") - min("u")).as("su"), (max("t") - min("t")).as("st"))
      .collect()
    val uRange = rows.map(_._2).max - rows.map(_._2).min
    val tRange = rows.map(_._3).max - rows.map(_._3).min
    spans.foreach { r =>
      assert(r.getLong(1) <= uRange / 4 + uRange / 100, s"bucket ${r.getInt(0)} u-span")
      assert(r.getLong(2) <= tRange / 4 + tRange / 100, s"bucket ${r.getInt(0)} t-span")
    }
  }

  test("writeZOrdered files carry tight 2-D bounding boxes on disk") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val rows = (0L until 8192L).map(i =>
      (i, rnd.nextInt(1000000).toLong, rnd.nextInt(1000000).toLong))
    val df = rows.toDF("id", "u", "t")
    val dir = java.nio.file.Files.createTempDirectory("zord").toString
    Layout.writeZOrdered(df, col("u"), col("t"), s"$dir/z", nFiles = 8)
    val files = new java.io.File(s"$dir/z").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(files.length == 8)
    val uR = (rows.map(_._2).max - rows.map(_._2).min).toDouble
    val tR = (rows.map(_._3).max - rows.map(_._3).min).toDouble
    // per-FILE bounding-box area — footer min/max stats prune on exactly
    // these bounds; a random write would average ~1.0 of the space
    val areas = files.map { f =>
      val d = spark.read.parquet(f.getAbsolutePath)
        .agg(min("u"), max("u"), min("t"), max("t")).head()
      ((d.getLong(1) - d.getLong(0)) / uR) * ((d.getLong(3) - d.getLong(2)) / tR)
    }
    val meanArea = areas.sum / areas.length
    assert(meanArea < 0.5, f"mean normalized box area $meanArea%.3f")
    // row count preserved through the layout write
    assert(spark.read.parquet(s"$dir/z").count() == 8192)
  }

  private def hilbertRef(n: Long, x0: Long, y0: Long): Long = {
    var (x, y, d) = (x0, y0, 0L)
    var s = n / 2
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = n - 1 - x; y = n - 1 - y }
        val t = x; x = y; y = t
      }
      s /= 2
    }
    d
  }

  test("hilbert2 matches the canonical xy2d; consecutive d are grid-adjacent") {
    import spark.implicits._
    val bits = 5 // full 32x32 grid, exhaustive
    val n = 1L << bits
    val pts = for (x <- 0L until n; y <- 0L until n) yield (x, y)
    val got = Layout.hilbert2(pts.toDF("x", "y"), "x", "y", bits, "d")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    for ((x, y) <- pts)
      assert(got((x, y)) == hilbertRef(n, x, y), s"($x,$y)")
    // the curve is a bijection onto 0..n^2-1 and every step moves to a
    // 4-neighbour cell — the locality property Morton order lacks
    val byD = got.toSeq.map { case ((x, y), d) => d -> ((x, y)) }.sortBy(_._1)
    assert(byD.map(_._1) == (0L until n * n))
    byD.sliding(2).foreach { case Seq((_, (x1, y1)), (_, (x2, y2))) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1, s"jump at ($x1,$y1)")
    }
  }
}
