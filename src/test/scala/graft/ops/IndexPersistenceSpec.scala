package graft.ops

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The build-once/serve-later index lifecycle: train the IVF quantizer,
  * persist the model (centroids) as parquet, reload it in a fresh memo
  * state, and prove search from the RELOADED model is bit-identical to
  * search from the live trainer — the contract that lets an offline
  * training job and an online serving job be different processes. */
class IndexPersistenceSpec extends AnyFunSuite with SharedSpark {
  test("centroids survive a parquet round trip; reloaded search is bit-identical") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val k = Similarity.scaledCells(e)
    // live model
    val live = Similarity.kmeansCentroids(e, "vec_id", "embedding", k, 64, 3)
    val dir = java.nio.file.Files.createTempDirectory("graftivf").toString
    live.write.mode("overwrite").parquet(dir)
    // reload: (cent_id, dim, v) rows → Array[Array[Double]] — a bounded
    // MODEL load (k×64 rows), not a data collect
    val rows = spark.read.parquet(dir).collect()
    val kk = rows.map(_.getLong(0)).max.toInt + 1
    val cents = Array.ofDim[Double](kk, 64)
    rows.foreach(r => cents(r.getLong(0).toInt)(r.getInt(1) - 1) = r.getDouble(2))
    // query sample searched against the corpus under BOTH models
    val queries = e.filter(col("vec_id") % 50 === 0)
    val fromLive = Similarity.ivfSearchStream(queries, "vec_id", "embedding",
        e, "vec_id", "embedding",
        { val (c, _) = Similarity.kmeansLoop(e, "vec_id", "embedding", k, 64, 3); c })
      .collect().map(_.toString).sorted
    val fromLoaded = Similarity.ivfSearchStream(queries, "vec_id", "embedding",
        e, "vec_id", "embedding", cents)
      .collect().map(_.toString).sorted
    assert(fromLive.nonEmpty, "no candidates — weak fixture")
    assert(fromLoaded.sameElements(fromLive), "reloaded model diverged")
    new java.io.File(dir).listFiles.foreach(_.delete())
  }
}
