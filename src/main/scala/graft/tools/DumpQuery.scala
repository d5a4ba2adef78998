package graft.tools

import graft.{Sessions, SparkEntry}

/** Dev tool: run SparkEntry queries and print their rows — for eyeballing
  * results and harvesting pinned-measurement oracle constants.
  * Usage: runMain graft.tools.DumpQuery <queryName>... [-sf <dir>] [-n <rows>]
  */
object DumpQuery {
  def main(args: Array[String]): Unit = {
    val (names, opts) = QueryArgs.parse(args, "-sf", "-n")
    val sfDir = opts.getOrElse("-sf", "/root/testdata/sf0.01")
    val maxRows = opts.get("-n").map(_.toInt).getOrElse(100)
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    for (name <- names) {
      println(s"== $name @ $sfDir")
      SparkEntry.queries(name)(spark, sfDir).show(maxRows, truncate = false)
    }
    spark.stop()
  }
}
