package graft.tools

import graft.{Observe, Sessions, SparkEntry}

/** Dev tool: time individual SparkEntry queries without running the whole
  * bench, with Bench's protocol (`Observe.timeQuery`; median reported), so
  * local numbers are comparable with BENCH_r* artifacts. One more run
  * under `Observe.measure` then prints every Spark job the query launches
  * (duration and description or call site), so a multi-action query's
  * time is attributable to its internal passes; the timed runs stay
  * un-listened. Usage: runMain graft.tools.QueryTimer <queryName>... [-sf <dir>]
  */
object QueryTimer {
  def main(args: Array[String]): Unit = {
    val (names, opts) = QueryArgs.parse(args, "-sf")
    val sfDir = opts.getOrElse("-sf", "/root/testdata/sf0.1")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      val times = Observe.timeQuery(spark)(fn(spark, sfDir))
      println(f"TIMER $name median=${times(1)}%.3f min=${times.head}%.3f max=${times.last}%.3f sf=$sfDir")
      val (rows, report) = Observe.measure(spark)(fn(spark, sfDir).count())
      println(s"[jobs] $name: $rows rows")
      report.jobTable.foreach(line => println(s"[jobs]   $line"))
    }
    spark.stop()
  }
}
