package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

final case class EventRow(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                          event_type: String, value: Double, props: String)
final case class DocRow(doc_id: Long, text: String, lang: String,
                        source: String, n_chars: Long)
final case class EmbRow(vec_id: Long, embedding: Array[Float], label: Int)

/** Seeded input generators. Every value is a pure function of (seed, row
  * id, salt), so the same seed writes the same files and the work per run
  * does not depend on the seed: sizes are fixed, only values change. */
object Inputs {

  /** splitmix64 finaliser over (seed, id, salt). */
  def mix(seed: Long, id: Long, salt: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + id * 0xBF58476D1CE4E5B9L + salt
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def nn(seed: Long, id: Long, salt: Long): Long = mix(seed, id, salt) & Long.MaxValue
  /** Uniform in [0, 1). */
  def u(seed: Long, id: Long, salt: Long): Double =
    (nn(seed, id, salt) >>> 11).toDouble / (1L << 52).toDouble

  /** 2024-02-01T00:00:00Z in microseconds: every chain series starts here. */
  val T0us = 1706745600000000L

  // ---- wave_chain --------------------------------------------------------

  /** A pressure + velocity deployment sampled at 1 Hz as instrument CSV text
    * (`time,Pressure,u,v`), written as a single file the way a logger
    * exports it. Three seeded swell components ride on 10.5 dbar; u and v
    * carry the same components' orbital velocities along a seeded heading,
    * plus hash noise. Returns the file's path. */
  def waveCsv(spark: SparkSession, seed: Long, rows: Long, dir: String): String = {
    val comps = (0 until 3).map { k =>
      (0.05 + 0.15 * u(seed, k, 1), 5.0 + 7.0 * u(seed, k, 2),
        2 * math.Pi * u(seed, k, 3), 2 * math.Pi * u(seed, k, 4))
    }
    def wave(f: (Double, Double) => Double): org.apache.spark.sql.Column =
      comps.map { case (a, per, ph, dirn) =>
        lit(a * f(math.cos(dirn), math.sin(dirn))) *
          sin(col("id") * (2 * math.Pi / per) + ph)
      }.reduce(_ + _)
    def noise(salt: Int) =
      (pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(20001L)) - 10000) * 1e-6
    val out = s"$dir/deployment.csv"
    spark.range(rows).select(
        date_format(timestamp_micros(lit(T0us) + col("id") * 1000000L),
          "yyyy-MM-dd HH:mm:ss").as("time"),
        round(lit(10.5) + wave((_, _) => 1.0) + noise(1), 6).as("Pressure"),
        round(wave((c, _) => 0.3 * c) + noise(2), 6).as("u"),
        round(wave((_, s) => 0.3 * s) + noise(3), 6).as("v"))
      .coalesce(1).write.mode("overwrite").option("header", "true").csv(out)
    out
  }

  // ---- ops_mix: instrument fixtures ---------------------------------------

  private def ts(stepUs: Long) =
    timestamp_micros(lit(T0us) + col("id") * stepUs).as("time")
  private def h(seed: Long, salt: Int) =
    pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(1000000L)) / 1e6

  /** Raw fixtures of the ops_mix clean families, with the column sets the
    * `graft.tools.ChainFixtures` invocations expect, seeded values and
    * fixed row counts. Keyed by the fixture name each invocation reads. */
  def fleet(spark: SparkSession, seed: Long, rows: Long,
            p: String => String): Unit = {
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(p(name))
    // glx: radar water level, 1 Hz, with ~1% dropouts (nulls)
    write(spark.range(rows).select(ts(1000000L),
      when(h(seed, 1) < 0.01, lit(null).cast("double"))
        .otherwise(lit(2.0) + sin(col("id") * 0.001) * 0.1 + h(seed, 2) * 0.01)
        .as("water_level")), "glxraw")
    // hobo: pressure logger with temperature, 1 Hz
    write(spark.range(rows).select(ts(1000000L),
      (lit(11.0) + sin(col("id") * 0.01) * 0.2 + h(seed, 3) * 0.01).as("P_1"),
      (lit(15.0) + h(seed, 4) * 0.1).as("T_28")), "hoboraw")
  }

  // ---- ops_mix: registry tables -------------------------------------------

  private val EvTypes = Array("click", "error", "purchase", "signup", "view")
  private val Langs = Array("de", "es", "fr", "zh")
  private val Vocab = Array("a", "agg", "batch", "big", "column", "customer",
    "data", "dup", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")
  private val EventsEpochUs = 1704067200000000L // 2024-01-01T00:00:00Z

  /** Document words as a function of (seed, base id, mutation seed): a
    * near duplicate reuses an earlier document's base id and rewrites the
    * last tenth of its words; an exact duplicate reuses it unchanged. */
  private def docWords(seed: Long, baseId: Long, mut: Long): Array[String] = {
    val n = 10 + (nn(seed, baseId, 1001) % 91).toInt
    val w = Array.tabulate(n)(i => Vocab((nn(seed, baseId, 2000 + i) % Vocab.length).toInt))
    if (mut != 0) for (i <- n - math.max(1, n / 10) until n)
      w(i) = Vocab((nn(seed, mut, 3000 + i) % Vocab.length).toInt)
    w
  }

  private def gauss(seed: Long, id: Long, salt: Long): Double = {
    val u1 = math.max(u(seed, id, salt), 1e-12)
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u(seed, id, salt + 7777))
  }

  /** The registry's `events`, `documents` and `embeddings` tables in the
    * schemas `graft.queries.Tables` reads (events.ts as parquet
    * timestamp[us]), with the planted duplicate rates the dedup and
    * similarity queries look for. */
  def registryTables(spark: SparkSession, seed: Long, events: Long, docs: Long,
                     embs: Long, dir: String): Unit = {
    import spark.implicits._
    val users = math.max(1L, events * 15 / 1000)
    val prevTs = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try {
      spark.range(0, events, 1, 4).map { id =>
        val us = EventsEpochUs + (u(seed, id, 61) * 30 * 86400e6).toLong
        val t = new java.sql.Timestamp(us / 1000)
        t.setNanos(((us % 1000000) * 1000).toInt)
        EventRow(id, t,
          nn(seed, id, 62) % users, EvTypes((nn(seed, id, 63) % 5).toInt),
          math.round(-50.0 * math.log(math.max(1.0 - u(seed, id, 64), 1e-12)) * 100) / 100.0,
          s"""{"k": ${nn(seed, id, 65) % 100}}""")
      }.write.mode("overwrite").parquet(s"$dir/events.parquet")
    } finally prevTs match {
      case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
    spark.range(0, docs, 1, 4).map { id =>
      val roll = nn(seed, id, 71) % 1000
      val (base, mut): (Long, Long) =
        if (id > 100 && roll < 2) (id - 1 - nn(seed, id, 72) % math.min(id, 500L), 0L)
        else if (id > 100 && roll < 50)
          (id - 1 - nn(seed, id, 73) % math.min(id, 500L), mix(seed, id, 74) | 1L)
        else (id, 0L)
      val text = docWords(seed, base, mut).mkString(" ")
      val lang = if (u(seed, id, 75) < 0.41) "en" else Langs((nn(seed, id, 76) % 4).toInt)
      DocRow(id, text, lang, s"src${nn(seed, id, 77) % 20}", text.length.toLong)
    }.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.range(0, embs, 1, 4).map { id =>
      val roll = nn(seed, id, 81) % 100
      val (base, perturb): (Long, Boolean) =
        if (id > 50 && roll < 1) (id - 1 - nn(seed, id, 82) % math.min(id, 200L), true)
        else (id, false)
      val v = Array.tabulate(64)(i => gauss(seed, base, 100L * i) +
        (if (perturb) 0.02 * gauss(seed, base, 9000L + i) else 0.0))
      val norm = math.sqrt(v.map(x => x * x).sum)
      EmbRow(id, v.map(x => (x / norm).toFloat), (nn(seed, id, 83) % 10).toInt)
    }.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }
}
