package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * SBE 26plus Seagauge readers (stglib/sg/): `.hex` metadata scrape
 * (sgutils.read_hex) and `.wb` wave bursts (sgutils.read_wb); the `.tid`
 * tide series (tid2cdf.read_tid) is [[Dialects.tid]]. Pressure converts
 * psia → dbar as `P/14.503773800722*10` (tid2cdf.py:46).
 */
object Seagauge {

  val PsiaToDbar: Double = 10.0 / 14.503773800722

  /** read_hex (sgutils.py:13-100): keyword scrape of the .hex preamble. */
  def readHexMeta(lines: Iterator[String]): Map[String, Any] = {
    val m = scala.collection.mutable.Map.empty[String, Any]
    var done = false
    while (lines.hasNext && !done) {
      val row = lines.next()
      val col = row.trim.split("\\s+")
      if (row.contains("S>DD")) done = true
      else if (row.contains("Software Version")) m("SGSoftwareVersion") = col(2)
      else if (row.matches(".*SBE 26plus.* V.*")) {
        m("SGInstrumentType") = col(0).drop(1) + " " + col(1)
        m("SGFirmwareVersion") = col(2) + " " + col(3)
        m("serial_number") = col(5)
      }
      else if (row.contains("quartz pressure sensor"))
        m("SGPressureSensorSerial") = col(6).dropRight(1)
      else if (row.contains("tide measurement: interval")) {
        m("SGTideInterval") = col(4); m("SGTideDuration") = col(8)
      }
      else if (row.contains("wave samples/burst")) {
        m("SGWaveSamples") = col(0).drop(1); m("SGSample_rate") = col(4)
      }
      else if (row.contains("total recorded tide measurements"))
        m("SGNumberOfTideMeasurements") = col(5)
      else if (row.contains("total recorded wave bursts"))
        m("SGNumberOfWaveBursts") = col(5)
    }
    m.toMap
  }

  final case class WbRow(burst: Long, startTime: Long, sample: Long,
                         p_dbar: Double)

  /** read_wb (sgutils.py:102-160): `* <burst> <start> <?> <nsamps>` header
    * rows followed by 4-column pressure rows; long-format output. */
  def readWb(spark: SparkSession, text: String): DataFrame = {
    import spark.implicits._
    val out = scala.collection.mutable.ArrayBuffer.empty[WbRow]
    val it = text.linesIterator.buffered
    while (it.hasNext) {
      val line = it.next()
      if (line.contains("SBE")) ()
      else if (line.contains("*")) {
        val col = line.trim.split("\\s+")
        val burst = col(1).toLong
        val start = col(2).toLong
        val nsamps = col(4).toInt
        // floor(nsamps/4) full 4-column lines, matching the reference's
        // math.floor(sample_no/4) — a trailing partial line is dropped by
        // the instrument format (sgutils.py:119-121)
        val rows = nsamps / 4
        var s = 0L
        (0 until rows).foreach { _ =>
          val vals = it.next().trim.split("\\s+")
          vals.foreach { v =>
            out += WbRow(burst, start, s, v.toDouble * PsiaToDbar)
            s += 1
          }
        }
      }
    }
    spark.createDataset(out.toSeq).toDF()
  }
}
