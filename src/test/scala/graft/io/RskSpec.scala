package graft.io

import graft.SharedSpark
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Fixture generated by python sqlite3 (tools; multi-page data table,
  * INTEGER PRIMARY KEY rowid alias, overflow-chain text row). */
class RskSpec extends AnyFunSuite with SharedSpark {

  private lazy val bytes =
    Files.readAllBytes(Paths.get(getClass.getResource("/fixture.rsk").toURI))

  test("parses sqlite_master and CREATE TABLE columns") {
    val db = Sqlite.open(bytes)
    assert(db.tables.keySet == Set("data", "burstdata", "schedules", "wave",
      "continuous", "notes"))
    assert(db.tables("data").columns == Seq("tstamp", "channel01", "channel02"))
  }

  test("scans a multi-page table with rowid-alias primary key") {
    val db = Sqlite.open(bytes)
    val rows = Sqlite.scanTable(db, db.tables("data").rootPage)
    assert(rows.length == 6000)
    // INTEGER PRIMARY KEY column comes back from the rowid
    assert(rows.head(0) == 1704067200000L)
    assert(rows.last(0) == 1704067200000L + 5999 * 1000L)
    assert(math.abs(rows(1234)(1).asInstanceOf[Double] - (10.0 + 1234 * 0.001)) < 1e-12)
  }

  test("reassembles overflow-chain payloads") {
    val db = Sqlite.open(bytes)
    val rows = Sqlite.scanTable(db, db.tables("notes").rootPage)
    assert(rows.head(1).asInstanceOf[String] == "x" * 9000)
  }

  test("parseColumns handles quoting and table constraints") {
    assert(Sqlite.parseColumns(
      """CREATE TABLE t ("a" INT, [b] REAL, `c` TEXT, d BLOB,
        | PRIMARY KEY (a, b), UNIQUE(c))""".stripMargin) ==
      Seq("a", "b", "c", "d"))
  }

  test("sampling attrs from schedules/wave/continuous") {
    val attrs = Rsk.samplingAttrs(bytes)
    assert(attrs("wave_samplingPeriod") == 250L)
    assert(attrs("wave_samplingCount") == 4096L)
    assert(attrs("continuous_samplingPeriod") == 1000L)
    assert(attrs("schedules_type") == "wave")
  }

  test("readSeries produces a typed DataFrame") {
    val df = Rsk.readSeries(spark, bytes)
    assert(df.columns.toSeq == Seq("tstamp", "channel01", "channel02"))
    assert(df.count() == 6000)
    val row = df.filter(org.apache.spark.sql.functions.col("tstamp") ===
      1704067200000L).collect()(0)
    assert(math.abs(row.getDouble(1) - 10.0) < 1e-12)
  }

  private lazy val edge =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      getClass.getResource("/fixture_edge.rsk").toURI))

  test("NULL in a plain (non-rowid-alias) first column stays NULL") {
    val db = Sqlite.open(edge)
    assert(!db.tables("tags").rowidAlias)
    val rows = Sqlite.scanTable(db, db.tables("tags").rootPage,
      db.tables("tags").rowidAlias)
    assert(rows.map(_(0)).toSet == Set(null, "ok"))
  }

  test("ALTER TABLE short records are null-padded to the schema") {
    val df = Rsk.readTable(spark, edge, "amended")
    assert(df.columns.toSeq == Seq("id", "x", "note"))
    val rows = df.orderBy("id").collect()
    assert(rows(0).isNullAt(2))       // pre-ALTER record padded
    assert(rows(1).getString(2) == "new")
  }
}
