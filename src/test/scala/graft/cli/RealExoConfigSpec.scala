package graft.cli

import graft.SharedSpark
import graft.io.Config
import org.scalatest.funsuite.AnyFunSuite

/** Third real-artifact reproduction: the reference's PUBLISHED
  * `examples/exo_config.yaml` + `examples/glob_att1076a.txt` drive the
  * full `runots exo csv2cdf` → `cdf2nc` lifecycle. Only the sample
  * values are synthetic (no real KOR export ships with the reference);
  * the skiprows, EPIC renames, unit scalings, deployment clip dates and
  * every qaqc key — including the example's documented `bad_ens`
  * Python-slice semantics ("[500, 600, 905, 910] ... will delete
  * 500-599 and 905-909", "[51, 52] ... removing a single value (51)") —
  * come from the real files. */
class RealExoConfigSpec extends AnyFunSuite with SharedSpark {

  private val gattsPath = "/root/reference/examples/glob_att1076a.txt"
  private val yamlPath = "/root/reference/examples/exo_config.yaml"

  test("REAL exo_config.yaml qaqc keys drive the clean step's trims") {
    assume(Seq(gattsPath, yamlPath).forall(p => new java.io.File(p).isFile))
    val (meta, _) = Config.merge(
      Config.readGlobalAttsFile(gattsPath), Config.readYamlFile(yamlPath))
    // the published example's keys, parsed from the real yaml
    assert(meta.int("skiprows").contains(25))
    assert(meta.dbl("C_51_min_diff").contains(-0.3))
    assert(meta.dblSeq("C_51_bad_ens").map(_.map(_.toInt))
      .contains(Seq(500, 600, 905, 910)))
    assert(meta.dblSeq("S_41_bad_ens").map(_.map(_.toInt)).contains(Seq(51, 52)))
    assert(meta.dblSeq("Turb_bad_ens").map(_.map(_.toInt)).contains(Seq(200, 250)))

    // synthetic KOR export matching the config: 25 metadata lines, then
    // 1000 constant 15-min samples inside the real deployment window
    // (constant series keep every *_diff trim inert, so the bad_ens
    // removals are the only nulls)
    val dir = java.nio.file.Files.createTempDirectory("real_exo").toFile
    val csv = new java.io.File(dir, "kor.csv")
    val w = new java.io.PrintWriter(csv, "UTF-8")
    (1 to 25).foreach(i => w.println(s"KOR export metadata line $i"))
    w.println("Date (MM/DD/YYYY),Time (HH:mm:ss),Cond mS/cm,SpCond µS/cm," +
      "Sal psu,Turbidity NTU,Temp °C")
    val t0 = java.time.Instant.parse("2016-08-05T00:00:00Z")
    for (i <- 0 until 1000) {
      val t = t0.plusSeconds(i * 900L)
      val d = java.time.ZonedDateTime.ofInstant(t, java.time.ZoneOffset.UTC)
      w.println(f"${d.getMonthValue}%d/${d.getDayOfMonth}%d/${d.getYear}%d," +
        f"${d.getHour}%d:${d.getMinute}%02d:00,30.0,48012.2,30.1,12.0,21.3")
    }
    w.close()
    val raw = new java.io.File(dir, "raw").getAbsolutePath
    val clean = new java.io.File(dir, "clean").getAbsolutePath
    RunOts.runStep(spark, "exo", "csv2cdf", meta, csv.getAbsolutePath, raw)
    RunOts.runStep(spark, "exo", "cdf2nc", meta, raw, clean)
    val c = spark.read.parquet(clean).orderBy("time").collect()
    assert(c.length == 1000) // all samples inside the real deployment window

    def nullsOf(v: String): Seq[Int] =
      c.zipWithIndex.collect { case (r, i) if r.isNullAt(r.fieldIndex(v)) => i }
    // C_51: mS/cm -> S/m scaling (30 -> 3.0) and the two documented ranges
    assert(nullsOf("C_51") == ((500 until 600) ++ (905 until 910)))
    assert(c(0).getAs[Double]("C_51") == 3.0)
    // S_41: the single-value removal
    assert(nullsOf("S_41") == Seq(51))
    // Turb: the single range, with values intact elsewhere
    assert(nullsOf("Turb") == (200 until 250))
    assert(c(199).getAs[Double]("Turb") == 12.0)
    // SpC_48: µS/cm -> S/m, no trims configured
    assert(nullsOf("SpC_48").isEmpty)
    assert(math.abs(c(0).getAs[Double]("SpC_48") - 4.80122) < 1e-9)
  }
}
