package graft.tools


/** Scaling-run data generator (dev tool): synthesizes the driver's table set
  * at an arbitrary scale factor, matching the sf0.1 schemas and the
  * distribution shapes that determine query WORK (row counts, key
  * cardinalities, join fan-outs, value domains, planted duplicate rates) —
  * not the driver's exact rows. Used to generate sf1 locally (10× sf0.1)
  * for the per-query scaling measurement in SCALING.md; never touches
  * /root/testdata.
  *
  * Usage: runMain graft.tools.GenData <outDir> <sf> [<regionNationSrcDir>]
  *
  * Distribution notes (measured from /root/testdata/sf0.1):
  * - customer 150k·sf, supplier 10k·sf, part 200k·sf, orders 1.5M·sf,
  *   lineitem ≈4.0 lines/order (uniform 1..7), events 1M·sf (users 15k·sf,
  *   30-day window, exponential value mean 50), documents 50k·sf (31-word
  *   vocab, 10..100 words, ~5% near-dup + ~0.2% exact-dup plants),
  *   embeddings 2000·(sf/0.1)^log10(4) — the driver's observed sublinear
  *   curve (500@0.01, 2000@0.1 → 8000@1) — 64-dim L2-normalized gaussians.
  * - events.ts is emitted as raw long NANOSECONDS: the driver's parquet is
  *   TIMESTAMP(NANOS) which `Tables.events` reads as LongType via
  *   nanosAsLong, so a LongType column is runtime-identical.
  */
object GenData {

  // splitmix64: deterministic, stateless per-(row, salt) randomness — fully
  // parallel, no Random seed-ordering hazards across partitions
  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def h(id: Long, salt: Long): Long = mix(mix(id) ^ salt)
  private def nn(id: Long, salt: Long): Long = h(id, salt) & Long.MaxValue
  private def u(id: Long, salt: Long): Double =
    (nn(id, salt) >>> 11).toDouble / (1L << 52).toDouble // [0,1)
  private def r2(x: Double): Double = math.round(x * 100.0) / 100.0

  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Status = Array("F", "O", "P")
  private val RetFlag = Array("A", "N", "R")
  private val LineStatus = Array("F", "O")
  private val PTypes = Array("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO")
  private val PAdj = Array("large", "hot", "blue", "old", "cold", "small", "new", "red")
  private val PNoun = Array("ring", "bolt", "plate", "screw", "cap", "disk", "tube", "rod")
  private val EvTypes = Array("click", "error", "purchase", "signup", "view")
  private val Langs = Array("de", "es", "fr", "zh")
  private val Vocab = Array("a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")

  private val DayMs = 86400000L
  private val OrdersEpoch = java.time.LocalDate.of(1995, 1, 1).toEpochDay * DayMs
  private val EventsEpochNs = java.time.LocalDate.of(2024, 1, 1).toEpochDay * DayMs * 1000000L

  final case class Cust(c_custkey: Long, c_name: String, c_nationkey: Int,
                        c_acctbal: Double, c_mktsegment: String)
  final case class Supp(s_suppkey: Long, s_name: String, s_nationkey: Int, s_acctbal: Double)
  final case class Prt(p_partkey: Long, p_name: String, p_brand: String, p_type: String,
                       p_size: Int, p_retailprice: Double)
  final case class Ord(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
                       o_totalprice: Double, o_orderdate: java.sql.Timestamp,
                       o_orderpriority: String)
  final case class Li(l_orderkey: Long, l_partkey: Long, l_suppkey: Long, l_linenumber: Int,
                      l_quantity: Double, l_extendedprice: Double, l_discount: Double,
                      l_tax: Double, l_returnflag: String, l_linestatus: String,
                      l_shipdate: java.sql.Timestamp)
  // ts as java.sql.Timestamp: the driver's regenerated events.parquet stores
  // timestamp[us] (not bigint nanos), so the replica must exercise the same
  // Tables.events normalization path the driver data hits
  final case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                      event_type: String,
                      value: Double, props: String)
  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
  final case class Emb(vec_id: Long, embedding: Array[Float], label: Int)

  /** Document text as a pure function of (baseId, mutSeed): near-dup plants
    * reuse an earlier doc's baseId with a nonzero mutSeed (tail mutation),
    * exact-dup plants reuse it with mutSeed 0 — no cross-row dependency. */
  private def docWords(baseId: Long, mutSeed: Long): Array[String] = {
    val n = 10 + (nn(baseId, 1001) % 91).toInt
    val w = Array.tabulate(n)(i => Vocab((nn(baseId, 2000 + i) % Vocab.length).toInt))
    if (mutSeed != 0) { // mutate the last ~10% of words (near-dup, same prefix)
      val k = math.max(1, n / 10)
      for (i <- n - k until n)
        w(i) = Vocab((nn(mutSeed, 3000 + i) % Vocab.length).toInt)
    }
    w
  }

  private def gauss(id: Long, salt: Long): Double = {
    val u1 = math.max(u(id, salt), 1e-12); val u2 = u(id, salt + 7777)
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  private def embedding(baseId: Long, perturb: Boolean): Array[Float] = {
    val v = Array.tabulate(64)(i => gauss(baseId, 100L * i))
    if (perturb) for (i <- v.indices) v(i) += 0.02 * gauss(baseId, 9000L + i)
    val norm = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / norm).toFloat)
  }

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val sf = args(1).toDouble
    val rnSrc = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    require(!outDir.startsWith("/root/testdata"), "refusing to write into /root/testdata")

    // fixed at 32, not SPARK_GRAFT_CPUS: the tables must not vary by machine
    val spark = graft.Sessions.local(32)
    // int64 µs on disk (not INT96): the shipped events.parquet is
    // timestamp[us] — replicate the same physical type
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val nCust = math.round(150000 * sf)
    val nSupp = math.round(10000 * sf)
    val nPart = math.round(200000 * sf)
    val nOrd = math.round(1500000 * sf)
    val nEv = math.round(1000000 * sf)
    val nUsers = math.max(1, math.round(15000 * sf))
    val nDoc = math.round(50000 * sf)
    val nEmb = math.round(2000 * math.pow(sf / 0.1, math.log10(4.0)))
    val par = 32

    def write(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[gen] $name: done")
    }

    // region + nation: fixed 5/25 rows — copy verbatim from the driver's set
    write(spark.read.parquet(s"$rnSrc/region.parquet"), "region")
    write(spark.read.parquet(s"$rnSrc/nation.parquet"), "nation")

    write(spark.range(0, nCust, 1, par).map { id =>
      Cust(id, f"Customer#$id%09d", (nn(id, 11) % 25).toInt,
        r2(-1000 + u(id, 12) * 11000), Segments((nn(id, 13) % 5).toInt))
    }.toDF(), "customer")

    write(spark.range(0, nSupp, 1, par).map { id =>
      Supp(id, f"Supplier#$id%09d", (nn(id, 21) % 25).toInt, r2(-1000 + u(id, 22) * 11000))
    }.toDF(), "supplier")

    write(spark.range(0, nPart, 1, par).map { id =>
      Prt(id, s"${PAdj((nn(id, 31) % 8).toInt)} ${PNoun((nn(id, 32) % 8).toInt)}",
        s"Brand#${nn(id, 33) % 25}", PTypes((nn(id, 34) % 6).toInt),
        1 + (nn(id, 35) % 50).toInt, 900.0 + (nn(id, 36) % 1000) / 10.0)
    }.toDF(), "part")

    write(spark.range(0, nOrd, 1, par).map { id =>
      val od = OrdersEpoch + (nn(id, 41) % 2405) * DayMs
      Ord(id, nn(id, 42) % nCust, Status((nn(id, 43) % 3).toInt),
        r2(1000 + u(id, 44) * 499000), new java.sql.Timestamp(od),
        Priorities((nn(id, 45) % 5).toInt))
    }.toDF(), "orders")

    write(spark.range(0, nOrd, 1, par).flatMap { oid =>
      val nl = 1 + (nn(oid, 51) % 7).toInt
      val od = OrdersEpoch + (nn(oid, 41) % 2405) * DayMs
      (1 to nl).map { ln =>
        val k = oid * 8 + ln
        Li(oid, nn(k, 52) % nPart, nn(k, 53) % nSupp, ln,
          (1 + (nn(k, 54) % 50)).toDouble, r2(900 + u(k, 55) * 104100),
          (nn(k, 56) % 11) / 100.0, (nn(k, 57) % 9) / 100.0,
          RetFlag((nn(k, 58) % 3).toInt), LineStatus((nn(k, 59) % 2).toInt),
          new java.sql.Timestamp(od + (1 + nn(k, 60) % 95) * DayMs))
      }
    }.toDF(), "lineitem")

    write(spark.range(0, nEv, 1, par).map { id =>
      // micro-aligned instant (the driver's timestamp[us] parquet cannot
      // carry sub-µs anyway); Timestamp.setNanos keeps the µs remainder
      val ns = EventsEpochNs + (u(id, 61) * 30 * DayMs * 1e6).toLong / 1000L * 1000L
      val t = new java.sql.Timestamp(ns / 1000000L)
      t.setNanos((ns % 1000000000L).toInt)
      Ev(id, t, nn(id, 62) % nUsers, EvTypes((nn(id, 63) % 5).toInt),
        r2(-50.0 * math.log(math.max(1.0 - u(id, 64), 1e-12))),
        s"""{"k": ${nn(id, 65) % 100}}""")
    }.toDF(), "events")

    write(spark.range(0, nDoc, 1, par).map { id =>
      val roll = nn(id, 71) % 1000
      val (baseId, mut): (Long, Long) =
        if (id > 100 && roll < 2) (id - 1 - (nn(id, 72) % math.min(id, 500)), 0L) // exact dup
        else if (id > 100 && roll < 50) (id - 1 - (nn(id, 73) % math.min(id, 500)), h(id, 74) | 1L) // near dup
        else (id, 0L)
      val text = docWords(baseId, mut).mkString(" ")
      val lang = if (u(id, 75) < 0.41) "en" else Langs((nn(id, 76) % 4).toInt)
      Doc(id, text, lang, s"src${nn(id, 77) % 20}", text.length.toLong)
    }.toDF(), "documents")

    write(spark.range(0, nEmb, 1, par).map { id =>
      val roll = nn(id, 81) % 100
      val (baseId, perturb): (Long, Boolean) =
        if (id > 50 && roll < 1) (id - 1 - (nn(id, 82) % math.min(id, 200)), true)
        else (id, false)
      Emb(id, embedding(baseId, perturb), (nn(id, 83) % 10).toInt)
    }.toDF(), "embeddings")

    println(s"[gen] wrote sf=$sf to $outDir (cust=$nCust ord=$nOrd ev=$nEv doc=$nDoc emb=$nEmb)")
    spark.stop()
  }
}
