package graft.functions

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The JL projection kernel must reproduce the explode→sign-join→
  * re-aggregate formulation it replaced BIT-FOR-BIT — the DuckDB oracle
  * replays that join form, so any divergence (sign derivation, xi
  * quantization, sum order, null/edge handling) silently splits the
  * engines. Covers the real embeddings table plus null/empty/short/
  * null-element vectors. */
class JlProjectSpec extends AnyFunSuite with SharedSpark {

  private val dims = 64
  private val outDims = 16

  /** The r16 join formulation, verbatim (the oracle's shape). */
  private def joinForm(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val sparkS = df.sparkSession
    import sparkS.implicits._
    val scale = 1.0 / math.sqrt(outDims.toDouble)
    val m = (for (j <- 0 until outDims; i <- 1 to dims) yield (j, i))
      .toDF("j", "i")
      .withColumn("s", expr(
        "CASE WHEN CAST(conv(substring(md5(concat(CAST(j AS STRING), '_', " +
          "CAST(i AS STRING))), 1, 8), 16, 10) AS BIGINT) % 2 = 0 " +
          "THEN 1 ELSE -1 END"))
    val x = df.select(col("vec_id").cast("long").as("vec_id"),
        posexplode(transform(transform(col("embedding"), v => v.cast("double")),
          v => floor(v * lit(1000000.0)).cast("long"))).as(Seq("i0", "xi")))
      .withColumn("i", col("i0") + 1).drop("i0")
    x.join(broadcast(m), "i")
      .groupBy("vec_id", "j")
      .agg(sum(col("xi") * col("s")).as("__acc"))
      .select(col("vec_id"), col("j").as("out_dim"),
        (col("__acc").cast("double") / 1000000.0 * lit(scale)).as("v"))
  }

  test("sign matrix matches the in-engine md5-parity derivation") {
    import spark.implicits._
    val m = (for (j <- 0 until outDims; i <- 1 to dims) yield (j, i))
      .toDF("j", "i")
      .withColumn("s", expr(
        "CASE WHEN CAST(conv(substring(md5(concat(CAST(j AS STRING), '_', " +
          "CAST(i AS STRING))), 1, 8), 16, 10) AS BIGINT) % 2 = 0 " +
          "THEN 1 ELSE -1 END"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getInt(2))).toMap
    for (j <- 0 until outDims; i <- 1 to dims)
      assert(JlProject.sign(j, i) == m((j, i)), s"sign($j, $i)")
  }

  test("kernel long form == join form on the real embeddings, bitwise") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val kernel = graft.ops.Similarity.jlProject(emb, "vec_id", "embedding",
      dims, outDims)
    val bad = kernel.as("k").join(joinForm(emb).as("h"),
        Seq("vec_id", "out_dim"), "full_outer")
      .filter(!(col("k.v") <=> col("h.v"))).count()
    assert(bad == 0)
  }

  test("edge vectors: null, empty, short, null element") {
    import spark.implicits._
    val edge = Seq(
      (1L, Some(Seq[Option[Double]](Some(0.5), Some(-1.25), None, Some(3.0)))),
      (2L, Some(Seq.empty[Option[Double]])),
      (3L, None),
      (4L, Some((1 to 80).map(i => Option(i * 0.01)).toSeq))
    ).toDF("vec_id", "embedding")
    val kernel = graft.ops.Similarity.jlProject(edge, "vec_id", "embedding",
      dims, outDims)
    val bad = kernel.as("k").join(joinForm(edge).as("h"),
        Seq("vec_id", "out_dim"), "full_outer")
      .filter(!(col("k.v") <=> col("h.v"))).count()
    assert(bad == 0)
    // null/empty embeddings must be ABSENT from the long form entirely
    assert(kernel.filter(col("vec_id").isin(2L, 3L)).count() == 0)
  }
}
