package graft.io

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** WebDataset tar shards: byte-level ustar validity (alignment, checksum,
  * terminator), lossless round trip, deterministic shard packing under
  * the payload budget, and grouped sample files staying adjacent. */
class TarShardsSpec extends AnyFunSuite with SharedSpark {
  test("ustar entries round-trip and honor the format invariants") {
    val entries = Seq(
      "0001.txt" -> "hello world".getBytes("UTF-8"),
      "0001.json" -> """{"a":1}""".getBytes("UTF-8"),
      "0002.bin" -> Array.tabulate(1000)(_.toByte))
    val a = TarShards.tarBytes(entries)
    assert(a.length % 512 == 0, "block alignment")
    assert(a.takeRight(1024).forall(_ == 0), "terminator blocks")
    val back = TarShards.untar(a)
    assert(back.map(_._1) == entries.map(_._1))
    back.zip(entries).foreach { case ((_, g), (_, w)) =>
      assert(java.util.Arrays.equals(g, w))
    }
    // corrupting any header byte must break the checksum gate
    val bad = a.clone(); bad(0) = 'X'.toByte
    intercept[IllegalArgumentException](TarShards.untar(bad))
  }

  test("shard packing: payload budget respected, samples intact, order-deterministic") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val rows = (0 until 200).map { i =>
      (f"$i%06d", ("x" * (50 + rnd.nextInt(400))).getBytes("UTF-8"),
        s"""{"id":$i}""".getBytes("UTF-8"))
    }
    val df = rows.toDF("k", "txt", "meta")
    val shards = TarShards.buildShards(df, "k",
        Seq("txt" -> "txt", "json" -> "meta"), maxShardBytes = 4096)
      .orderBy("shard_id").collect()
    // offset-bucket contract: shard payload ≤ budget + its LAST sample
    // (the straddler); with these sizes that bound is ≤ 4096 + 450·2
    shards.foreach { r =>
      val last = TarShards.untar(r.getAs[Array[Byte]](3))
        .takeRight(2).map(_._2.length).sum
      assert(r.getLong(2) <= 4096L + last,
        s"shard ${r.getLong(0)}: ${r.getLong(2)} vs budget+last $last")
    }
    assert(shards.map(_.getLong(1)).sum == 200L)
    // reassemble all samples across shards: nothing lost, key order kept
    val all = shards.flatMap(r => TarShards.untar(r.getAs[Array[Byte]](3)))
    assert(all.length == 400)
    val keys = all.map(_._1.split('.').head).distinct
    assert(keys.sameElements(rows.map(_._1)), "global key order")
    // both files of a sample are adjacent in the same shard
    all.grouped(2).zip(rows.iterator).foreach { case (pair, (k, txt, meta)) =>
      assert(pair.map(_._1).toSeq == Seq(s"$k.txt", s"$k.json"))
      assert(java.util.Arrays.equals(pair(0)._2, txt))
      assert(java.util.Arrays.equals(pair(1)._2, meta))
    }
    // determinism: a second build is byte-identical
    val again = TarShards.buildShards(df, "k",
        Seq("txt" -> "txt", "json" -> "meta"), maxShardBytes = 4096)
      .orderBy("shard_id").collect()
    shards.zip(again).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(a.getAs[Array[Byte]](3),
        b.getAs[Array[Byte]](3)))
    }
  }

  test("write shards to disk, re-ingest via the binaryFile reader") {
    import spark.implicits._
    val rows = (0 until 40).map(i =>
      (f"$i%06d", s"text $i".getBytes("UTF-8")))
    val shards = TarShards.buildShards(rows.toDF("k", "txt"), "k",
      Seq("txt" -> "txt"), maxShardBytes = 64).collect()
    val dir = java.nio.file.Files.createTempDirectory("graftwds")
    shards.foreach { r =>
      java.nio.file.Files.write(
        dir.resolve(f"shard-${r.getLong(0)}%05d.tar"), r.getAs[Array[Byte]](3))
    }
    val back = TarShards.readShards(spark, dir.toString)
      .collect().map(r => r.getString(1) -> new String(r.getAs[Array[Byte]](3), "UTF-8"))
      .toMap
    assert(back.size == 40)
    rows.foreach { case (k, t) => assert(back(k) == new String(t, "UTF-8")) }
    dir.toFile.listFiles.foreach(_.delete()); dir.toFile.delete()
  }

  test("system tar can read our shards (when available)") {
    val a = TarShards.tarBytes(Seq("a.txt" -> "one".getBytes,
      "b.txt" -> "two".getBytes))
    val f = java.nio.file.Files.createTempFile("graft", ".tar")
    java.nio.file.Files.write(f, a)
    val have = new java.io.File("/usr/bin/tar").exists() ||
      new java.io.File("/bin/tar").exists()
    if (have) {
      val p = new ProcessBuilder("tar", "tf", f.toString).start()
      val out = new String(p.getInputStream.readAllBytes, "UTF-8")
      assert(p.waitFor() == 0 && out.split("\n").toSeq == Seq("a.txt", "b.txt"))
    }
    java.nio.file.Files.delete(f)
  }
}
