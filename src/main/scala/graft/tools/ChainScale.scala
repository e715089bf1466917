package graft.tools

/** Chain-level scaling harness (dev tool): generates deployment-shaped
  * synthetic inputs for every per-family CLI chain at a given size
  * multiplier (fixtures shared with [[FuzzChains]] via [[ChainFixtures]]),
  * runs each chain end-to-end, and prints per-family wall-clock — run at
  * multipliers 1 and 10 to measure the chains' own scale curves
  * (SCALING.md "CLI chains" section). */
object ChainScale {

  def main(args: Array[String]): Unit = {
    val mults = args.headOption.map(_.split(",").map(_.toInt).toSeq)
      .getOrElse(Seq(1, 10))
    val only = args.drop(1).headOption.map(_.split(",").toSet)
    val spark = graft.Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")

    val results =
      scala.collection.mutable.LinkedHashMap[String, Map[Int, Double]]()
    for (m <- mults) {
      val dir = java.nio.file.Files
        .createTempDirectory(s"chainscale_x$m").toFile
      def p(n: String) = new java.io.File(dir, n).getAbsolutePath
      for (c <- ChainFixtures.all
           if only.forall(sel => sel.exists(c.label.contains))) {
        c.gen(spark, m.toDouble, p) // untimed: fixture generation
        val t0 = System.nanoTime()
        try {
          c.run(spark, p)
          val s = (System.nanoTime() - t0) / 1e9
          results(c.label) = results.getOrElse(c.label, Map.empty) + (m -> s)
          println(f"[chainscale] ${c.label}%-16s x$m%-3d ${s}%8.2f s")
        } catch {
          case e: Throwable =>
            println(s"[chainscale] ${c.label} x$m ERROR " +
              s"${e.getClass.getSimpleName}: " +
              s"${String.valueOf(e.getMessage).take(120)}")
        }
      }
      // scratch hygiene: the x10 set is ~GBs
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
      }
      rm(dir)
    }

    println("\n| chain | " + mults.map(m => s"x$m s").mkString(" | ") +
      " | ratio |\n|---|" + mults.map(_ => "---|").mkString + "---|")
    for ((label, byM) <- results) {
      val cells = mults.map(m => byM.get(m).map(s => f"$s%.2f").getOrElse("-"))
      val ratio = (byM.get(mults.head), byM.get(mults.last)) match {
        case (Some(a), Some(b)) if a > 0 => f"${b / a}%.1f×"
        case _ => "-"
      }
      println(s"| $label | ${cells.mkString(" | ")} | $ratio |")
    }
    spark.stop()
  }
}
