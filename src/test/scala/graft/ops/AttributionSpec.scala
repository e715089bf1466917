package graft.ops

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

/** Markov removal-effect attribution on a hand-computable chain: the
  * absorption probabilities and removal effects must match the algebraic
  * solution (the 12-round fixed point converges to it in millionths). */
class AttributionSpec extends AnyFunSuite with SharedSpark {
  test("two-channel funnel: algebraic absorption and removal effects") {
    import spark.implicits._
    // 8 users: 4 × [A, B, purchase], 2 × [A, null], 2 × [B, purchase]
    // chain: START→A 6/8, START→B 2/8; A→B 4/6, A→NULL 2/6; B→CONV 6/6
    // v(B)=1; v(A)=2/3; v(START)=6/8·2/3 + 2/8·1 = 3/4
    // remove A: START→A dies ⇒ v = 2/8 = 1/4; effect = 1 − (1/4)/(3/4) = 2/3
    // remove B: both A→B and START→B die ⇒ v = 0; effect = 1
    val rows =
      (0 until 4).flatMap(u => Seq((u.toLong, "A", 1L), (u.toLong, "B", 2L),
        (u.toLong, "purchase", 3L))) ++
      (4 until 6).flatMap(u => Seq((u.toLong, "A", 1L))) ++
      (6 until 8).flatMap(u => Seq((u.toLong, "B", 1L), (u.toLong, "purchase", 2L)))
    val ev = rows.zipWithIndex.map { case ((u, t, ts), i) => (u, t, ts, i.toLong) }
      .toDF("user_id", "event_type", "ts", "event_id")
    val got = Attribution.markovRemoval(ev, "user_id", "event_type", "ts",
        "event_id", "purchase")
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    val (bA, rA, eA) = got("A")
    val (bB, rB, eB) = got("B")
    assert(math.abs(bA - 0.75) < 1e-5 && math.abs(bB - 0.75) < 1e-5)
    assert(math.abs(rA - 0.25) < 1e-5, s"removed A → $rA")
    assert(math.abs(rB - 0.0) < 1e-5, s"removed B → $rB")
    assert(math.abs(eA - 2.0 / 3) < 1e-5 && math.abs(eB - 1.0) < 1e-5)
  }

  test("fixed channel list: unobserved channels still get a zero-effect row") {
    import spark.implicits._
    // only A and B ever occur; the business list also requests C —
    // matching the oracle's per-channel scalar subqueries, C must appear
    // with NULL n_visits, removal = base (no-op), effect 0; and an
    // event type OUTSIDE the list (X) shapes the chain but earns no row
    val rows = Seq(
      (0L, "A", 1L), (0L, "X", 2L), (0L, "B", 3L), (0L, "purchase", 4L),
      (1L, "A", 1L), (1L, "B", 2L), (1L, "purchase", 3L),
      (2L, "A", 1L))
    val ev = rows.zipWithIndex.map { case ((u, t, ts), i) => (u, t, ts, i.toLong) }
      .toDF("user_id", "event_type", "ts", "event_id")
    val out = Attribution.markovRemoval(ev, "user_id", "event_type", "ts",
      "event_id", "purchase", channelFilter = Some(Seq("A", "B", "C")))
    val byChan = out.collect().map(r => r.getString(0) -> r).toMap
    assert(byChan.keySet == Set("A", "B", "C"), s"channels ${byChan.keySet}")
    assert(byChan("C").isNullAt(1), "unobserved channel has NULL n_visits")
    assert(byChan("C").getDouble(2) == byChan("C").getDouble(3),
      "removal of an unobserved channel is a no-op")
    assert(byChan("C").getDouble(4) == 0.0, "zero removal effect")
    assert(!byChan.contains("X"), "out-of-list types earn no credit row")
    // X still shaped the chain: user 0 converts THROUGH X, so removing A
    // (the only entry) zeroes absorption — effect 1 for A
    assert(math.abs(byChan("A").getDouble(4) - 1.0) < 1e-5)
  }
}
