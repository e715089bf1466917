package graft.ops

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants for the corpus-curation operators (decontamination, packing,
  * mixture resampling, repeated spans, BM25). */
class CurationSpec extends AnyFunSuite with SharedSpark {
  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("contaminationFlags: overlap iff a shared n-gram exists; eval never flagged") {
    val df = docs(
      0L -> "a b c d e",      // eval (id % 2 == 0 pred below uses id < 2)
      1L -> "x y z",          // eval
      2L -> "q a b c w",      // shares trigram "a b c" with doc 0
      3L -> "no overlap here at all",
      4L -> "x y z x y z")    // shares "x y z" with doc 1
    val got = Curation.contaminationFlags(df, "doc_id", "text",
        col("doc_id") < 2, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(2L -> 1L, 4L -> 1L)) // distinct overlapping trigrams
  }

  test("packSequences: chunks partition the token stream exactly") {
    val df = docs((0L until 40L).map(i =>
      i -> Seq.fill(7 + (i % 5).toInt)("tok").mkString(" ")): _*)
    val L = 16
    val out = Curation.packSequences(df, "doc_id", "text", L).cache()
    val total = df.select(sum(size(split(col("text"), " ")))).head.getLong(0)
    // every chunk except the last holds exactly L tokens; the last the rest
    val perChunk = out.groupBy("chunk_id").agg(sum("n_toks").as("n"))
      .orderBy("chunk_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(perChunk.map(_._2).sum == total)
    assert(perChunk.init.forall(_._2 == L))
    assert(perChunk.last._2 == total - L * (perChunk.length - 1))
    // chunk ids are contiguous from 0
    assert(perChunk.map(_._1).toSeq == (0L until perChunk.length.toLong))
    // per doc, slices tile the doc: offsets start at 0 and are contiguous
    val slices = out.orderBy("doc_id", "doc_off")
      .collect().groupBy(_.getLong(1))
    slices.values.foreach { rs =>
      val offs = rs.map(r => (r.getLong(2), r.getLong(3)))
      assert(offs.head._1 == 0L)
      offs.sliding(2).foreach {
        case Array((o1, n1), (o2, _)) => assert(o1 + n1 == o2)
        case _ =>
      }
    }
  }

  test("mixtureResample: never upsamples, hits integer targets, deterministic") {
    import spark.implicits._
    val df = (0L until 300L).map(i => (i, s"src${i % 3}")).toDF("doc_id", "source")
    val frac = when(col("source") === "src0", lit(500L)).otherwise(lit(250L))
    val kept = Curation.mixtureResample(df, "doc_id", "source", frac).cache()
    val bySrc = kept.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // T = min(100*1000/500, 100*1000/250) = 200; targets: src0 100, others 50.
    // Hash sampling hits the target in expectation (exact only for keep-all).
    assert(bySrc("src0") == 100L) // threshold = full range -> kept entirely
    assert(math.abs(bySrc.getOrElse("src1", 0L) - 50L) <= 10L)
    assert(math.abs(bySrc.getOrElse("src2", 0L) - 50L) <= 10L)
    // deterministic: second run identical
    val again = Curation.mixtureResample(df, "doc_id", "source", frac)
    assert(kept.except(again).isEmpty && again.except(kept).isEmpty)
  }

  test("repeatedSpans: emits exactly the positions of non-unique n-grams") {
    val df = docs(
      0L -> "a b c d",   // trigrams: "a b c", "b c d"
      1L -> "a b c x",   // trigram "a b c" repeats corpus-wide
      2L -> "u v w q")
    val got = Curation.repeatedSpans(df, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(got == Set((0L, 0, "a b c", 2L), (1L, 0, "a b c", 2L)))
  }

  test("all curation operators are no-ops on empty input (no crash, 0 rows)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Curation.contaminationFlags(empty, "doc_id", "text",
      col("doc_id") < 2, 3).count() == 0)
    assert(Curation.packSequences(empty, "doc_id", "text", 16).count() == 0)
    assert(Curation.repeatedSpans(empty, "doc_id", "text", 3).count() == 0)
    assert(Curation.bm25(empty, "doc_id", "text", Seq("x")).count() == 0)
    val emptySrc = Seq.empty[(Long, String)].toDF("doc_id", "source")
    assert(Curation.mixtureResample(emptySrc, "doc_id", "source",
      lit(100L)).count() == 0)
  }

  test("bm25: more query-term hits => higher score; no hits filtered out") {
    val df = docs(
      0L -> "table table table pad pad",
      1L -> "table pad pad pad pad",
      2L -> "pad pad pad pad pad")
    val got = Curation.bm25(df, "doc_id", "text", Seq("table"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got.keySet == Set(0L, 1L))
    assert(got(0L) > got(1L) && got(1L) > 0.0)
  }

  test("mergedDupSpans: adjacent duplicated positions coalesce into maximal spans") {
    // "a b c d e" appears twice → in each doc, trigram positions 0,1,2 are
    // all duplicated and adjacent → one maximal span covering tokens 0..4;
    // doc 2 repeats "x y z" far apart within itself → two 1-gram islands
    val df = docs(
      0L -> "a b c d e",
      1L -> "a b c d e",
      2L -> "x y z q q q q x y z")
    val got = Curation.mergedDupSpans(df, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val qSpan = (2L, 3L, 6L, 2L) // "q q q" at positions 3,4 → tokens 3..6
    assert(got == Set((0L, 0L, 4L, 3L), (1L, 0L, 4L, 3L),
      (2L, 0L, 2L, 1L), (2L, 7L, 9L, 1L), qSpan))
  }

  test("mergedDupSpans: positions with token-overlapping gaps (2..n-1) coalesce") {
    // "q w q" repeats at positions 0 and 2 (gap 2, position 1 not
    // duplicated) — their token spans [0,2] and [2,4] overlap, so they
    // must merge into ONE span; split islands would double-count token 2
    // and dupSpanFraction would exceed 1.0
    val df = docs(0L -> "q w q w q")
    val spans = Curation.mergedDupSpans(df, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(spans == Seq((0L, 4L, 2L)))
    val frac = Curation.dupSpanFraction(df, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4)))
    assert(frac.toSeq == Seq((5L, 5L, 1.0, 0)))
  }

  test("dupSpanFraction: covered mass from disjoint spans; keep flips past maxFrac") {
    val df = docs(
      0L -> "a b c d e f g h",  // fully duplicated by doc 1 → frac 1.0
      1L -> "a b c d e f g h",
      2L -> "a b c x u v w z")  // tokens 0..2 of 8 duplicated → frac 0.375
    val got = Curation.dupSpanFraction(df, "doc_id", "text", 3, maxFrac = 0.5)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4)))).toMap
    assert(got(0L) == ((8L, 8L, 1.0, 0)))
    assert(got(1L) == ((8L, 8L, 1.0, 0)))
    assert(got(2L) == ((8L, 3L, 0.375, 1)))
  }

  test("nbClassify: separable corpus — held-out docs score toward their class") {
    // even ids train, odd ids held out; label = lang == 'en'
    import spark.implicits._
    val df = Seq(
      (0L, "en", "good clean prose text here"),
      (2L, "en", "clean good text prose again"),
      (4L, "de", "schlecht kauderwelsch zeug hier"),
      (6L, "de", "zeug kauderwelsch schlecht nochmal"),
      (1L, "en", "good prose text"),
      (3L, "de", "schlecht zeug kauderwelsch"),
      (5L, "en", "clean good prose")
    ).toDF("doc_id", "lang", "text")
    val got = Curation.nbClassify(df, "doc_id", "text",
        col("lang") === "en", col("doc_id") % 2 === 0, buckets = 64)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(3), r.getInt(4)))
    assert(got.map(_._1).toSet == Set(1L, 3L, 5L)) // held-out docs only
    got.foreach { case (_, label, score, pred) =>
      assert(pred == (if (score > 0) 1 else 0))
      assert(pred == label) // separable vocab → correct predictions
    }
    val conf = Curation.nbConfusion(df, "doc_id", "text",
        col("lang") === "en", col("doc_id") % 2 === 0, buckets = 64)
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    assert(conf == Map((1, 1) -> 2L, (0, 0) -> 1L))
  }

  test("invertedIndex: df/cf cover full corpus, postings truncate doc-ordered") {
    import spark.implicits._
    // "hot" appears in all 30 docs (twice in doc 0); "rare" only in doc 7
    val df = (0L until 30L).map { i =>
      val extra = if (i == 0) " hot" else ""
      val rare = if (i == 7) " rare" else ""
      (i, s"hot filler$extra$rare")
    }.toDF("doc_id", "text")
    val got = Curation.invertedIndex(df, "doc_id", "text", maxPostings = 5)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    val (dfHot, cfHot, postHot) = got("hot")
    assert(dfHot == 30L && cfHot == 31L) // stats over the FULL corpus
    // postings truncated to the 5 lowest doc ids, tf visible for doc 0
    assert(postHot == "0:2,1:1,2:1,3:1,4:1")
    assert(got("rare") == ((1L, 1L, "7:1")))
    assert(got("filler")._3.split(",").length == 5)
  }

  test("mixtureTemperature: smallest source kept whole, rates realize sqrt(nmin/ni)") {
    import spark.implicits._
    // 3 domains with 160 / 40 / 10 docs: accept rates 0.25 / 0.5 / 1.0
    val docs = ((0L until 160L).map(i => (i, "big")) ++
      (160L until 200L).map(i => (i, "mid")) ++
      (200L until 210L).map(i => (i, "small"))).toDF("doc_id", "src")
    val kept = Curation.mixtureTemperature(docs, "doc_id", "src")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val bySrc = kept.groupBy(_._2).view.mapValues(_.length).toMap
    assert(bySrc.getOrElse("small", 0) == 10) // r = 1: kept whole
    // from-definition recomputation of the exact integer accept test
    def u(id: Long) = ((id % 2147483647L) * 2654435761L + 40503L) % 2147483647L % 1000L
    val n = Map("big" -> 160L, "mid" -> 40L, "small" -> 10L)
    val expect = ((0L until 210L)).filter { id =>
      val s = if (id < 160) "big" else if (id < 200) "mid" else "small"
      u(id) * u(id) * n(s) < 1000000L * 10L
    }.toSet
    assert(kept.map(_._1).toSet == expect)
    // realized rates are within per-mille-hash tolerance of sqrt(nmin/ni)
    assert(math.abs(bySrc("big") / 160.0 - 0.25) < 0.08)
    assert(math.abs(bySrc("mid") / 40.0 - 0.5) < 0.15)
  }

  test("binned ROC AUC: separable classes score ~1, independent labels ~0.5") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // positives carry a marker token the NB trivially learns
    val docs = (0L until 400L).map { i =>
      val pos = i % 2 == 0
      val words = (1 to 20).map(_ => s"w${rnd.nextInt(30)}") ++
        (if (pos) Seq("zzmarker", "zzmarker") else Nil)
      (i, words.mkString(" "), if (pos) "en" else "fr")
    }.toDF("doc_id", "text", "lang")
    // train on ids ≡ 0,1 (mod 4) — both classes; hold out the rest
    val auc = Curation.nbAuc(docs, "doc_id", "text",
      col("lang") === "en", col("doc_id") % 4 < 2, buckets = 256)
      .head().getDouble(3)
    assert(auc > 0.95, s"separable AUC $auc")
    // a label INDEPENDENT of the text gives a chance-level AUC
    val chance = Curation.nbAuc(docs, "doc_id", "text",
      col("doc_id") % 3 === 0, col("doc_id") % 4 < 2, buckets = 256)
      .head().getDouble(3)
    assert(chance > 0.3 && chance < 0.7, s"independent-label AUC $chance")
    Spread.release(spark)
  }
}
