package graft.tools

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.SharedSpark
import graft.queries.Fp
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions.{col, hex}
import org.apache.spark.sql.types.{BinaryType, DataType, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Golden chain products: every [[ChainFixtures]] chain and raw-text ingest
  * runs at ×1 and each product it writes must match its entry in the
  * committed `CHAINS_FP.json`:
  * rows, schema DDL with nullability (as Spark wrote it into the parquet
  * footer), the order-free row hash of [[Fp.tableFp]] over every column's
  * exact text, and the `_graft_attrs.json` sidecar with the fixture
  * directory replaced by `<fixture>`. Rows are hashed, not parquet bytes:
  * parquet-mr writes each column chunk's `encodings` list in an order that
  * changes from run to run.
  *
  * On a mismatch the spec writes what it got to
  * `target/CHAINS_FP.actual.json`; regenerating the golden file means
  * copying that file over it and naming each changed product and why. */
class ChainGoldenSpec extends AnyFunSuite with SharedSpark {
  private val golden = Paths.get("CHAINS_FP.json")
  private val mapper = new ObjectMapper()

  private def fingerprint(dir: Path, name: String): ObjectNode = {
    val product = dir.resolve(name)
    require(Files.isDirectory(product), s"product $product is not a parquet directory")
    val part = product.toFile.listFiles.find(_.getName.endsWith(".parquet")).get
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new HPath(part.toURI), spark.sparkContext.hadoopConfiguration))
    val schema = try DataType.fromJson(reader.getFooter.getFileMetaData
        .getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
      finally reader.close()
    val df = spark.read.parquet(product.toString)
    val fields = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.name -> Fp.canon(if (f.dataType == BinaryType) hex(c) else c)
    }
    val fp = Fp.tableFp(df, name, fields).head()
    val sidecar = product.resolve("_graft_attrs.json")
    val node = mapper.createObjectNode()
    node.put("rows", fp.getLong(1))
    node.put("ddl", schema.asInstanceOf[StructType].toDDL)
    node.put("row_hash", fp.getLong(2))
    node.put("attrs", if (!Files.exists(sidecar)) ""
      else Files.readString(sidecar).replace(dir.toString, "<fixture>"))
    node
  }

  test("every chain's products match CHAINS_FP.json at x1") {
    val root = Files.createTempDirectory("chains_fp")
    val actual = mapper.createObjectNode()
    try for (c <- ChainFixtures.all ++ ChainFixtures.ingest) {
      val dir = Files.createDirectories(root.resolve(c.label.replace('/', '_')))
      def p(n: String) = dir.resolve(n).toString
      c.gen(spark, 1.0, p)
      val inputs = dir.toFile.list.toSet
      c.run(spark, p)
      (dir.toFile.list.toSet -- inputs).toSeq.sorted
        .foreach(n => actual.set[ObjectNode](s"${c.label}/$n", fingerprint(dir, n)))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
      }
      rm(root.toFile)
    }
    // compared as read back, so numbers compare as the committed file's do
    val text = mapper.writerWithDefaultPrettyPrinter.writeValueAsString(actual) + "\n"
    val (want, got) = (mapper.readTree(golden.toFile), mapper.readTree(text))
    val keys = (want.fieldNames.asScala ++ got.fieldNames.asScala).toSeq.distinct.sorted
    val changed = keys.filterNot(k => want.get(k) == got.get(k))
    if (changed.nonEmpty) {
      val out = Files.createDirectories(Paths.get("target")).resolve("CHAINS_FP.actual.json")
      Files.writeString(out, text)
      fail(s"${changed.size} product(s) differ from $golden (got $out): " +
        changed.map(k => s"$k: want ${want.get(k)}, got ${got.get(k)}").mkString("; "))
    }
  }
}
