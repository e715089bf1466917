package graft.ops

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

/** Snapshot diff classes must be exact; the fingerprint must be null-safe
  * (("a", null) vs (null, "a") is a CHANGE, not a match). */
class ReconcileSpec extends AnyFunSuite with SharedSpark {
  test("added/removed/changed/unchanged partition the key space exactly") {
    import spark.implicits._
    val a = Seq((1L, Some("x"), Some("p")), (2L, Some("y"), Some("q")),
      (3L, Some("z"), Some("r"))).toDF("k", "c1", "c2")
    val b = Seq((2L, Some("y"), Some("q")), (3L, Some("Z"), Some("r")),
      (4L, Some("w"), Some("s"))).toDF("k", "c1", "c2")
    val got = Reconcile.snapshotDiff(a, b, "k", Seq("c1", "c2"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      "removed" -> ((1L, 1L, 1L)), "unchanged" -> ((1L, 2L, 2L)),
      "changed" -> ((1L, 3L, 3L)), "added" -> ((1L, 4L, 4L))))
  }

  test("null placement is part of the value: (a,null) vs (null,a) is changed") {
    import spark.implicits._
    val a = Seq((1L, Some("a"), Option.empty[String])).toDF("k", "c1", "c2")
    val b = Seq((1L, Option.empty[String], Some("a"))).toDF("k", "c1", "c2")
    val got = Reconcile.snapshotDiff(a, b, "k", Seq("c1", "c2"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("changed" -> 1L))
  }
}
