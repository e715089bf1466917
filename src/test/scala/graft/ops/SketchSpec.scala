package graft.ops

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

/** HLL + Count-Min sketch invariants: estimation accuracy and the
  * one-sided Count-Min guarantee. */
class SketchSpec extends AnyFunSuite with SharedSpark {
  test("hllDistinct: estimate within HLL error bounds; duplicates ignored") {
    import spark.implicits._
    // group A: 5000 distinct keys (each twice — dedup must not inflate),
    // group B: 12 distinct (linear-counting regime)
    val rows = (0L until 5000L).flatMap(i => Seq(("a", i), ("a", i))) ++
      (0L until 12L).map(i => ("b", i))
    val df = rows.toDF("grp", "key")
    val got = Sketches.hllDistinct(df, "grp", "key")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(4))).toMap
    assert(got("a")._1 == 5000L && got("b")._1 == 12L)
    // p=10 → relative error ~1.04/sqrt(1024) ≈ 3.3%; allow 4 sigma
    assert(math.abs(got("a")._2 - 5000.0) / 5000.0 < 0.13, s"est ${got("a")._2}")
    // tiny set sits in the linear-counting branch — near-exact
    assert(math.abs(got("b")._2 - 12.0) < 1.5, s"est ${got("b")._2}")
  }

  test("HLL registers merge by max: sharded builds estimate exactly like one build") {
    import spark.implicits._
    // two overlapping shards (0..1999 and 1000..2999) built independently,
    // merged register-wise, must give the SAME estimate as one build over
    // the union — the property that makes the sketch distributable
    val whole = (0L until 3000L).map(i => ("all", i)).toDF("grp", "key")
    val s1 = (0L until 2000L).map(i => ("all", i)).toDF("grp", "key")
    val s2 = (1000L until 3000L).map(i => ("all", i)).toDF("grp", "key")
    val merged = Sketches.hllMerge(
      Sketches.hllRegisters(s1, "grp", "key"),
      Sketches.hllRegisters(s2, "grp", "key"))
    val a = Sketches.hllDistinct(whole, "grp", "key").head()
    val b = Sketches.hllEstimate(merged, "grp").head()
    assert(a.getDouble(4) == b.getDouble(4), s"${a.getDouble(4)} vs ${b.getDouble(4)}")
    assert(a.getLong(2) == b.getLong(2)) // same occupied registers
  }

  test("KMV: exact below k, within error bounds above; merge = one build") {
    import spark.implicits._
    val whole = (0L until 3000L).map(i => ("all", i)).toDF("grp", "key")
    val small = (0L until 40L).flatMap(i => Seq(("s", i), ("s", i))).toDF("grp", "key")
    val est = Sketches.kmvDistinct(whole, "grp", "key").head()
    // k=64 → relative error ~1/sqrt(62) ≈ 12.7%; allow 4 sigma
    assert(math.abs(est.getDouble(4) - 3000.0) / 3000.0 < 0.51, s"est $est")
    // below k the sketch IS the distinct set — exact (duplicates ignored)
    val ex = Sketches.kmvDistinct(small, "grp", "key").head()
    assert(ex.getDouble(4) == 40.0 && ex.getLong(1) == 40L)
    // bottom-k of merged sketches == bottom-k of the union (lossless merge)
    val s1 = (0L until 2000L).map(i => ("all", i)).toDF("grp", "key")
    val s2 = (1000L until 3000L).map(i => ("all", i)).toDF("grp", "key")
    val merged = Sketches.kmvMerge(
      Sketches.kmvRegisters(s1, "grp", "key"),
      Sketches.kmvRegisters(s2, "grp", "key"))
    val a = Sketches.kmvEstimate(Sketches.kmvRegisters(whole, "grp", "key"), "grp").head()
    val b = Sketches.kmvEstimate(merged, "grp").head()
    assert(a.getLong(2) == b.getLong(2) && a.getDouble(3) == b.getDouble(3),
      s"$a vs $b")
  }

  test("kmvJaccard: estimate tracks truth; identical sets estimate 1") {
    import spark.implicits._
    // a and b share half their keys; c duplicates a exactly
    val rows = (0L until 400L).map(i => ("a", i)) ++
      (200L until 600L).map(i => ("b", i)) ++
      (0L until 400L).map(i => ("c", i))
    val got = Sketches.kmvJaccard(rows.toDF("grp", "key"), "grp", "key")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    val (_, estAc, trueAc) = got(("a", "c"))
    assert(trueAc == 1.0 && estAc == 1.0) // identical sets: union sketch ⊂ both
    val (estU, estJ, trueJ) = got(("a", "b"))
    assert(math.abs(trueJ - 200.0 / 600.0) < 1e-9)
    assert(math.abs(estJ - trueJ) < 0.3, s"estJ $estJ trueJ $trueJ") // k=64 noise
    assert(math.abs(estU - 600.0) / 600.0 < 0.51, s"estU $estU")
  }

  test("bloomProbe: no false negatives; tiny filter load keeps absent terms out") {
    import spark.implicits._
    val df = (0 until 20).map(i => s"alpha beta gamma delta token$i").toDF("text")
    val got = Sketches.bloomProbe(df, "text",
        Seq("alpha", "delta", "token7", "missingword", "alsomissing"))
      .collect().map(r => r.getString(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    // every present term MUST be reported present (no false negatives)
    assert(got("alpha") == ((1, 1)) && got("delta") == ((1, 1)) &&
      got("token7") == ((1, 1)))
    // ~24 distinct tokens × 5 bits in 16384 → false-positive odds are
    // negligible; both absent terms should read absent
    assert(got("missingword") == ((0, 0)) && got("alsomissing") == ((0, 0)))
  }

  test("countMinProbe: est >= true for present terms; absent term stays small") {
    import spark.implicits._
    val df = (0 until 50).map(i =>
      s"alpha beta beta gamma$i extra tokens here").toDF("text")
    val got = Sketches.countMinProbe(df, "text", Seq("alpha", "beta", "nothere"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got("alpha")._2 == 50L && got("beta")._2 == 100L)
    assert(got("nothere")._2 == 0L)
    got.values.foreach { case (est, tru) => assert(est >= tru) }
    // with 4 independent rows of 1024 counters over ~350 tokens, the min
    // counter should not be wildly inflated
    assert(got("alpha")._1 <= 60L && got("beta")._1 <= 110L)
  }

  test("bitmap overlap: exact pairwise intersections vs a set referee") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    // overlapping member sets incl. ids on the 63-bit word boundary
    val rows = (0 until 500).map { _ =>
      (s"g${rnd.nextInt(3)}", rnd.nextInt(200).toLong)
    } ++ Seq(("g0", 62L), ("g0", 63L), ("g1", 63L), ("g2", 126L))
    val sets = rows.groupBy(_._1).map { case (g, rs) => g -> rs.map(_._2).toSet }
    val got = Sketches.bitmapOverlap(rows.toDF("g", "uid"), "g", "uid")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    for (ga <- sets.keys; gb <- sets.keys if ga < gb) {
      val inter = (sets(ga) intersect sets(gb)).size.toLong
      if (inter > 0) {
        val (na, nb, c) = got((ga, gb))
        assert(na == sets(ga).size && nb == sets(gb).size && c == inter,
          s"$ga x $gb")
      } else assert(!got.contains((ga, gb)))
    }
  }
}
