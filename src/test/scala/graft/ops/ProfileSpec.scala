package graft.ops

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

/** Table profile: exact n/null/distinct per column, all-null columns
  * degrade to zero distinct instead of vanishing from the report. */
class ProfileSpec extends AnyFunSuite with SharedSpark {
  test("exact counts, nulls, and min/max per column") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("a"), Option.empty[String]),
      (2L, Some("b"), Option.empty[String]),
      (3L, Some("a"), Option.empty[String]),
      (4L, Option.empty[String], Option.empty[String]))
      .toDF("id", "s", "dead")
    val got = Profile.tableProfile(df, Seq("id", "s", "dead"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          Option(r.getString(5)), Option(r.getString(6))))).toMap
    assert(got("id") == ((4L, 0L, 4L, Some("1"), Some("4"))))
    assert(got("s") == ((4L, 1L, 2L, Some("a"), Some("b"))))
    assert(got("dead") == ((4L, 4L, 0L, None, None)))
    // HLL estimate should be close to truth at tiny cardinalities
    val est = Profile.tableProfile(df, Seq("id", "s", "dead"))
      .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    assert(math.abs(est("id") - 4.0) < 0.5 && est("dead") == 0.0)
  }

  test("key skew profile: one hot key among uniforms drives salt_factor") {
    import spark.implicits._
    // 9 keys with 2 rows each + 1 key with 30 rows: n=48, keys=10,
    // mean 4.8, max 30 → salt = ceil(30·10/48) = ceil(6.25) = 7
    val rows = (1 to 9).flatMap(k => Seq(k.toLong, k.toLong)) ++
      Seq.fill(30)(100L)
    val r = Profile.keySkewProfile(rows.toDF("k"), "k").head()
    assert(r.getLong(1) == 48L && r.getLong(2) == 10L && r.getLong(3) == 30L)
    assert(r.getLong(4) == 2L, "p50 of frequencies")
    assert(r.getLong(5) == 30L, "p99 lands on the hot key")
    assert(r.getLong(7) == 7L, s"salt_factor ${r.getLong(7)}")
  }
}
