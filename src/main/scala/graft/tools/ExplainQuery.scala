package graft.tools

import graft.{Sessions, SparkEntry}

/** Dev tool: print the formatted physical plan of named SparkEntry
  * queries. Usage: runMain graft.tools.ExplainQuery <queryName>... [-sf <dir>]
  */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    val (names, opts) = QueryArgs.parse(args, "-sf")
    val sfDir = opts.getOrElse("-sf", "/root/testdata/sf0.01")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    for (name <- names) {
      println(s"===== $name =====")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
