package graft.tools

import graft.Observe

/** Attributes a dedup smoke's cost: runs the chosen engine's smoke at
  * the given sizes under `Observe.measure` and prints, per stage,
  * wall time, task time, shuffle read/write and spill — so a superlinear
  * point or a pin breach reads as "stage X spills" instead of a guess.
  * Usage:
  *   runMain graft.tools.DedupCurveProfile [minhash|winnow|substring] [nMillions...]
  * (default engine minhash, default sizes 4 and 8 — the last two curve
  * points; per-stage ratios between two runs localize superlinearity.
  * `substring 1 1 1` gives the bench substring smoke's min-of-3 with
  * per-stage attribution — the smoke whose driver-host runs breached
  * their pin four rounds running with quiet CPU probes.)
  */
object DedupCurveProfile {
  def main(args: Array[String]): Unit = {
    val engines: Map[String, (org.apache.spark.sql.SparkSession, Long) => (Double, Long, Long)] =
      Map("minhash" -> graft.DedupScaleSmoke.run,
        "winnow" -> graft.DedupScaleSmoke.runWinnowing,
        "substring" -> graft.DedupScaleSmoke.runSubstring)
    val (engine, sizeArgs) = args.toSeq match {
      case e +: rest if engines.contains(e) => (e, rest)
      case other => ("minhash", other)
    }
    val sizes = (sizeArgs match {
      case Seq() => Seq(4.0, 8.0)
      case xs => xs.map(_.toDouble)
    }).map(m => (m * 1e6).toLong)
    sizes.foreach { n =>
      val spark = graft.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
        .newSession()
      val ((secs, dups, expected), report) = Observe.measure(spark)(engines(engine)(spark, n))
      println(f"%n=== $engine smoke n=$n wall=$secs%.1f s dups=$dups/$expected ===")
      report.stageTable(18).foreach(println)
      val t = report.totals
      println(s"TOTAL task_s=${t.taskWallS} task_cpu_s=${t.taskCpuS} " +
        s"shuffle_read_MB=${t.shuffleReadMb} shuffle_write_MB=${t.shuffleWriteMb} " +
        s"spill_disk_MB=${t.spillDiskMb}")
    }
  }
}
