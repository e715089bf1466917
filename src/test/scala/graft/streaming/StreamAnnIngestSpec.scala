package graft.streaming

import graft.SharedSpark
import graft.ops.Similarity
import org.scalatest.funsuite.AnyFunSuite

/** Streaming ANN ingest/search parity: the trained coarse quantizer is a
  * stateless projection, so streamed cell assignments are bit-identical to
  * the batch Lloyd assignment, and the stream-static candidate join emits
  * exactly the candidates the batch IVF search ranks — re-ranking the
  * streamed candidates reproduces ivfTopKTrained's top-k rows. */
class StreamAnnIngestSpec extends AnyFunSuite with SharedSpark {

  test("streamed candidates + rerank == batch trained-IVF search") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dims = 8
    val rnd = new scala.util.Random(7)
    // 4 loose blobs so the trained cells are non-trivial
    val rows = (0L until 60L).map { i =>
      val c = (i % 4).toInt
      (i, Array.tabulate(dims)(d =>
        (2.0 * (if (d % 4 == c) 1.0 else 0.0) + 0.3 * rnd.nextDouble()).toFloat))
    }
    val corpus = rows.toDF("vec_id", "embedding")
    val (cents, _) = Similarity.kmeansLoop(corpus, "vec_id", "embedding",
      k = 4, dims = dims, iters = 3)
    val batchAssign = Similarity.kmeansAssign(corpus, "vec_id", "embedding",
        4, dims, 3).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batchTopK = Similarity.ivfTopKTrained(corpus, "vec_id", "embedding",
        nCentroids = 4, dims = dims, iters = 3, k = 3)
      .collect()
      .groupBy(_.getAs[Long]("vec_id"))
      .map { case (id, rs) =>
        id -> rs.sortBy(_.getAs[Int]("rank"))
          .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine")))
          .toSeq
      }

    val input = MemoryStream[(Long, Array[Float])]
    val sdf = input.toDF().toDF("vec_id", "embedding")
    val cand = Similarity.ivfSearchStream(sdf, "vec_id", "embedding",
      corpus, "vec_id", "embedding", cents)
    val q = cand.writeStream.outputMode("append")
      .format("memory").queryName("annq").start()
    val queries = rows.filter(_._1 % 6 == 0) // 10 query vectors
    input.addData(queries.take(5): _*)
    q.processAllAvailable()
    input.addData(queries.drop(5): _*) // second micro-batch, stateless
    q.processAllAvailable()
    val streamed = spark.sql("select * from annq").collect()
    q.stop()

    // cell parity: every streamed row carries the batch-trained cell
    assert(streamed.nonEmpty)
    streamed.foreach { r =>
      assert(r.getAs[Long]("cell") == batchAssign(r.getAs[Long]("query_id")))
    }
    // candidate-set + rerank parity per query
    val byQuery = streamed.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.keySet == queries.map(_._1).toSet)
    for ((id, rs) <- byQuery) {
      // candidates = everything in the query's cell except itself
      val cellMates = batchAssign.collect {
        case (v, c) if c == batchAssign(id) && v != id => v
      }.toSet
      assert(rs.map(_.getAs[Long]("neighbor_id")).toSet == cellMates)
      val rerank = rs
        .sortBy(r => (-r.getAs[Double]("cosine"), r.getAs[Long]("neighbor_id")))
        .take(3)
        .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine")))
        .toSeq
      assert(rerank == batchTopK(id), s"query $id")
    }
  }

  test("streamed outlier scores are bit-identical to the batch pass") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dims = 4
    val rnd = new scala.util.Random(11)
    val rows = (0L until 40L).map { i =>
      val base = if (i % 2 == 0) 0.0 else 10.0
      val noise = if (i == 38) 4.0 else 0.1
      (i, Array.tabulate(dims)(_ => (base + noise * rnd.nextDouble()).toFloat))
    }
    val corpus = rows.toDF("vec_id", "embedding")
    val batch = graft.ops.Similarity.cellOutliers(corpus, "vec_id",
        "embedding", k = 2, dims = dims, iters = 3, z = 2.0)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.getAs[java.lang.Double]("zscore")),
          r.getAs[Int]("is_outlier")))).toMap

    val (cents, stats) = graft.ops.Similarity.outlierModel(corpus, "vec_id",
      "embedding", k = 2, dims = dims, iters = 3)
    val input = MemoryStream[(Long, Array[Float])]
    val scored = graft.ops.Similarity.outlierScoreStream(
      input.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      cents, stats, z = 2.0)
    val q = scored.writeStream.outputMode("append")
      .format("memory").queryName("outs").start()
    input.addData(rows.take(20): _*)
    q.processAllAvailable()
    input.addData(rows.drop(20): _*)
    q.processAllAvailable()
    val streamed = spark.sql("select * from outs").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.getAs[java.lang.Double]("zscore")),
          r.getAs[Int]("is_outlier")))).toMap
    q.stop()
    assert(streamed == batch) // cells, distances, z-scores, flags — all equal
  }
}
