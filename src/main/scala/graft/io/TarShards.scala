package graft.io

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/**
 * WebDataset-style tar shard export — the training-data container format
 * (Aizman et al., "High Performance I/O For Large Scale Deep Learning";
 * webdataset.github.io): each sample is a group of files sharing a key
 * (`key.txt`, `key.json`, `key.jpg`, …), samples are concatenated into
 * fixed-size POSIX ustar archives, and loaders stream shards
 * sequentially — the layout that turns random-access sample reads into
 * sequential I/O at training time.
 *
 * Pure-JVM ustar writer (512-byte header blocks, octal size fields,
 * checksum-over-spaces, zero-padded payloads, two terminator blocks) —
 * no archive library, same spirit as the repo's own netCDF/HDF5
 * containers. Shard assignment is a running byte total via one ordered
 * sweep (no corpus-sized window); each shard's samples are
 * assembled by one partitioned aggregation and written by its own task.
 *
 * Deterministic: shard membership and in-shard order follow the key
 * order, so the same input always produces byte-identical shards.
 */
object TarShards {

  /** One ustar entry: 512-byte header + zero-padded payload. */
  private[io] def tarEntry(name: String, bytes: Array[Byte]): Array[Byte] = {
    require(name.getBytes("UTF-8").length <= 100, s"tar name too long: $name")
    val hdr = new Array[Byte](512)
    def put(off: Int, s: String): Unit = {
      val b = s.getBytes("UTF-8"); System.arraycopy(b, 0, hdr, off, b.length)
    }
    put(0, name)
    put(100, "0000644\u0000") // mode
    put(108, "0000000\u0000") // uid
    put(116, "0000000\u0000") // gid
    put(124, f"${bytes.length}%011o\u0000") // size, octal
    put(136, "00000000000\u0000") // mtime 0: deterministic archives
    put(156, "0") // typeflag: regular file
    put(257, "ustar\u0000") // magic
    put(263, "00") // version
    // checksum: header with the checksum field as spaces
    java.util.Arrays.fill(hdr, 148, 156, ' '.toByte)
    val sum = hdr.map(_ & 0xff).sum
    put(148, f"$sum%06o\u0000 ")
    val padded = (bytes.length + 511) / 512 * 512
    val out = new Array[Byte](512 + padded)
    System.arraycopy(hdr, 0, out, 0, 512)
    System.arraycopy(bytes, 0, out, 512, bytes.length)
    out
  }

  /** Assemble a complete archive from (name, payload) entries. */
  private[io] def tarBytes(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val body = entries.toArray.flatMap { case (n, b) => tarEntry(n, b) }
    body ++ new Array[Byte](1024) // two zero terminator blocks
  }

  /** Parse an archive back to (name, payload) entries — the round-trip
    * gate (and a loader for re-ingest tests). Strict bounds: truncated
    * headers/payloads throw rather than return garbage. */
  private[io] def untar(a: Array[Byte]): Seq[(String, Array[Byte])] = {
    val out = scala.collection.mutable.Buffer[(String, Array[Byte])]()
    var off = 0
    while (off + 512 <= a.length && a(off) != 0) {
      val name = new String(a, off, 100, "UTF-8").takeWhile(_ != '\u0000')
      val size = java.lang.Long.parseLong(
        new String(a, off + 124, 11, "UTF-8").trim, 8).toInt
      val stored = java.lang.Long.parseLong(
        new String(a, off + 148, 6, "UTF-8").trim, 8)
      val hdr = java.util.Arrays.copyOfRange(a, off, off + 512)
      java.util.Arrays.fill(hdr, 148, 156, ' '.toByte)
      require(hdr.map(_ & 0xff).sum == stored, s"tar checksum at $off")
      require(off + 512 + size <= a.length, "truncated tar payload")
      out += name -> java.util.Arrays.copyOfRange(a, off + 512, off + 512 + size)
      off += 512 + (size + 511) / 512 * 512
    }
    out.toSeq
  }

  /** Re-ingest written shards: every `*.tar` under `dir` via Spark's
    * binaryFile source (each archive = one input row = one task, the
    * sequential-read contract of the format), exploded to one row per
    * sample file. Output: (shard, key, ext, data). */
  def readShards(spark: org.apache.spark.sql.SparkSession,
                 dir: String): DataFrame = {
    val parse = udf((bytes: Array[Byte]) =>
      untar(bytes).map { case (n, b) =>
        val dot = n.lastIndexOf('.')
        (n.substring(0, math.max(dot, 0)), n.substring(dot + 1), b)
      })
    spark.read.format("binaryFile").option("pathGlobFilter", "*.tar").load(dir)
      .select(col("path").as("shard"), explode(parse(col("content"))).as("__s"))
      .select(col("shard"), col("__s._1").as("key"), col("__s._2").as("ext"),
        col("__s._3").as("data"))
  }

  /**
   * Plan shard assignment and build one tar per shard.
   *
   * Input: (keyCol sortable, parts = (extension → binary column)). Rows
   * pack in key order by OFFSET BUCKETS: shard s holds the samples whose
   * payload interval starts in [s·B, (s+1)·B) — a pure function of the
   * global running total, so assignment needs no sequential fold. A shard
   * holds ≥ B·(fill) and ≤ B + (its last sample) payload bytes — the
   * one-sample overhang is the price of scale-safe assignment vs the
   * sequential close-when-exceeding greedy (headers/padding excluded
   * from the budget, like WebDataset's `maxsize`).
   * Returns (shard_id, n_samples, n_bytes, tar BINARY) — write the
   * binary column wherever shards live (foreachPartition file writes,
   * object-store puts); keeping the archive AS DATA keeps this operator
   * testable and engine-agnostic.
   */
  def buildShards(df: DataFrame, keyCol: String,
                  parts: Seq[(String, String)],
                  maxShardBytes: Long): DataFrame = {
    // size in BYTES of what the tar writer will emit: octet_length counts
    // UTF-8 bytes for string columns (length() counts characters, which
    // undercounts multi-byte text and skews the shard budget)
    val payload = parts.map { case (_, c) =>
      octet_length(col(c)).cast("long") }.reduce(_ + _)
    val sized = df.select(col(keyCol).cast("string").as("__key"),
      payload.as("__sz"),
      array(parts.map { case (ext, c) =>
        struct(lit(ext).as("ext"), col(c).cast("binary").as("data"))
      }: _*).as("__parts"))
    // running payload total in key order via one ordered sweep,
    // then shard = start-offset div maxShardBytes (offset buckets; see
    // the scaladoc contract)
    val withTotal = graft.ops.Index.withRunningTotal(
      sized, Seq("__key"), "__sz", "__run")
    val sharded = withTotal.withColumn("__shard",
      expr(s"(__run - __sz) div ${maxShardBytes}L"))
    sharded
      .groupBy(col("__shard").as("shard_id"))
      .agg(count(lit(1)).as("n_samples"), sum("__sz").as("n_bytes"),
        sort_array(collect_list(struct(col("__key"), col("__parts"))))
          .as("__samples"))
      .withColumn("tar", udf((samples: Seq[Row]) =>
        tarBytes(samples.flatMap { s =>
          val key = s.getString(0)
          s.getSeq[Row](1).map(p => s"$key.${p.getString(0)}" -> p.getAs[Array[Byte]](1))
        })).apply(col("__samples")))
      .select("shard_id", "n_samples", "n_bytes", "tar")
  }
}
