package graft.functions

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The KmArgmin kernel must select BITWISE the same centroid as the
  * literal least(struct(|c|² − 2·x·c, j)) expression it replaces — the
  * kmeans oracles replay that arithmetic in DuckDB, and the trainer
  * feeds its own output back through the next iteration, so a single
  * divergent assignment cascades. Ties, NaN, null arrays, null
  * elements, short arrays, and the micro-unit quantizing form are the
  * cases where the two could plausibly split. */
class KmAssignSpec extends AnyFunSuite with SharedSpark {

  private val cents: Array[Array[Double]] = Array(
    Array(0.25, -1.5, 3.0, 0.0),
    Array(0.25, -1.5, 3.0, 0.0),          // duplicate → tie, lowest j wins
    Array(-2.0, 0.5, 0.125, 1.0),
    Array(1e-7, 2e-7, -3e-7, 4.4444444))

  private def edgeDf = {
    import spark.implicits._
    Seq(
      (1L, Some(Seq(Some(0.25), Some(-1.5), Some(3.0), Some(0.0)))),
      (2L, Some(Seq(Some(-2.0), Some(0.5), Some(0.125), Some(1.0)))),
      (3L, Some(Seq(Some(0.0), Some(0.0), Some(0.0), Some(0.0)))),
      (4L, Some(Seq(Some(1.0), Some(2.0)))),                    // short
      (5L, Some(Seq[Option[Double]](None, Some(1.0), None, Some(-1.0)))), // null elems
      (6L, Some(Seq(Some(Double.NaN), Some(1.0), Some(1.0), Some(1.0)))), // NaN
      (7L, None),                                               // null array
      (8L, Some(Seq(Some(1e9), Some(-1e9), Some(0.123456789), Some(3.14159265)))),
      (9L, Some(Seq(Some(0.2500001), Some(-1.4999999), Some(2.9999999), Some(1e-7))))
    ).toDF("id", "x").select(col("id"), col("x").cast("array<double>").as("x"))
  }

  private def corpusDf = spark.read
    .parquet("/root/testdata/sf0.01/embeddings.parquet")
    .select(col("vec_id").as("id"),
      expr("transform(embedding, v -> cast(v as double))").as("x"))

  private def assertAgree(df: org.apache.spark.sql.DataFrame,
                          quantize: Boolean): Unit = {
    val kcol = KmAssign.argminCol(col("x"), cents, quantize)
    val lcol = if (quantize)
      graft.ops.Similarity.quantAssignExprLiteral(cents, col("x"))
    else graft.ops.Similarity.kmAssignExprLiteral(cents, col("x"))
    // the literal form yields struct-least semantics: null x → d all null
    // → j = 0; it surfaces as getField on a non-null struct, value 0
    val bad = df.select(col("id"), kcol.as("k"), lcol.as("l"))
      .filter(!(col("k") <=> col("l"))).collect()
    assert(bad.isEmpty, s"quantize=$quantize: ${bad.mkString(",")}")
  }

  test("kernel == literal form on edge cases, plain and quantizing") {
    assertAgree(edgeDf, quantize = false)
    assertAgree(edgeDf, quantize = true)
  }

  test("kernel == literal form on the corpus embeddings") {
    assertAgree(corpusDf, quantize = false)
    assertAgree(corpusDf, quantize = true)
  }

  test("interpreted eval agrees with the dataframe (codegen) path") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    val viaDf = edgeDf.select(col("id"),
        KmAssign.argminCol(col("x"), cents, quantize = false).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (r <- edgeDf.collect()) {
      val id = r.getLong(0)
      val arr = if (r.isNullAt(1)) null
        else ArrayData.toArrayData(r.getSeq[Any](1).toArray)
      val interp = KmArgminExpr(Literal(arr,
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType)),
          cents.toSeq.map(_.toSeq), quantize = false).eval(null)
      assert(interp == viaDf(id), s"id=$id")
    }
  }
}
