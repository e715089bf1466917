package graft.io

import graft.core.Meta
import scala.jdk.CollectionConverters._

/**
 * Configuration loading (SURVEY §2.1): the gatts + YAML pair whose merge IS
 * the logical plan of a run (stglib/core/runcmd.py:8-27).
 */
object Config {

  /** read_globalatts (stglib/core/utils.py:1580-1597): `;`-delimited
    * key/value lines; values auto-coerced to Double where possible, except
    * MOORING which stays a string (reference special case). */
  def readGlobalAtts(lines: Iterator[String]): Meta = {
    val kvs = lines.flatMap { line =>
      val idx = line.indexOf(';')
      if (idx < 0) None
      else {
        val k = line.substring(0, idx).trim
        val v = line.substring(idx + 1).trim
        if (k.isEmpty) None
        else if (k == "MOORING") Some(k -> (v: Any))
        else Some(k -> coerce(v))
      }
    }.toMap
    Meta(kvs)
  }

  /** Read a text config explicitly as UTF-8 with a Latin-1 fallback —
    * real deployment files carry degree signs and are edited on varied
    * platforms; the JVM default charset (ASCII under a C locale) must
    * not decide whether a config parses. */
  def readTextFile(path: String): String =
    decodeText(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))

  /** `bytes` decoded under [[readTextFile]]'s policy: UTF-8, else Latin-1,
    * with a leading BOM stripped. */
  def decodeText(bytes: Array[Byte]): String = {
    val text = try {
      java.nio.charset.StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
        .decode(java.nio.ByteBuffer.wrap(bytes)).toString
    } catch {
      case _: java.nio.charset.CharacterCodingException =>
        new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    }
    // Windows editors prepend a UTF-8 BOM: decoded it becomes U+FEFF
    // glued to the first key ("<BOM>MOORING" never matches) and
    // snakeyaml treats it as content — strip it here, never from values
    if (text.nonEmpty && text.charAt(0) == '\ufeff') text.substring(1)
    else text
  }

  def readGlobalAttsFile(path: String): Meta =
    readGlobalAtts(readTextFile(path).linesIterator)

  private def coerce(v: String): Any =
    try v.toDouble
    catch { case _: NumberFormatException => v }

  /** Instrument YAML config (stglib/core/runcmd.py:13-18) via snakeyaml
    * (already on Spark's classpath). */
  def readYaml(text: String): Meta = {
    val yaml = new org.yaml.snakeyaml.Yaml()
    val m = yaml.load[java.util.Map[String, Object]](text)
    if (m == null) Meta.empty else Meta(m.asScala.toMap.map { case (k, v) => k -> fromJava(v) })
  }

  def readYamlFile(path: String): Meta = readYaml(readTextFile(path))

  private def fromJava(v: Any): Any = v match {
    case l: java.util.List[_] => l.asScala.toSeq.map(fromJava)
    case m: java.util.Map[_, _] =>
      m.asScala.toMap.map { case (k, vv) => k.toString -> fromJava(vv) }
    case other => other
  }

  /** get_metadata (stglib/core/runcmd.py:8-27): merge gatts + YAML; the
    * YAML (config) value wins on collision, mirroring the reference's
    * overwrite-with-warning behavior. Returns (merged, collidedKeys). */
  def merge(gatts: Meta, config: Meta): (Meta, Seq[String]) = {
    val collisions = gatts.attrs.keySet.intersect(config.attrs.keySet).toSeq.sorted
    (Meta(gatts.attrs ++ config.attrs), collisions)
  }
}
