package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

class LineageSpec extends SparkSpec {

  private def bump(df: DataFrame): DataFrame = df.select((col("x") + 1).as("x"))

  Seq("step", "observe").foreach { where =>
    test(s"iterate frees the seed and every generation when $where throws at generation 2") {
      // Suites run one at a time in the forked test JVM and the
      // ContextCleaner only ever removes entries: compare id sets.
      def persisted() = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val before = persisted()
      val seed = spark.range(0, 64, 1, 4).toDF("x").persist()
      val boom = new RuntimeException(s"$where failed")
      var observed = 0
      val thrown = intercept[RuntimeException] {
        Lineage.iterate("failing", seed, 5, seed.count())(
          (df, _, i) => {
            if (where == "step" && i == 2) throw boom
            bump(df)
          },
          observe = df => {
            val n = df.count() // generation 2 is materialized before it throws
            observed += 1
            if (where == "observe" && observed == 2) throw boom
            n
          })
      }
      assert(thrown eq boom)
      assert(seed.storageLevel == StorageLevel.NONE, "seed left in the cache manager")
      val left = persisted() -- before
      assert(left.isEmpty, s"generations not freed after the failure: $left")
    }
  }

  test("iterate labels each generation's jobs and restores the caller's description") {
    val sc = spark.sparkContext
    val group = s"lineage-desc-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "caller phase")
    try {
      val (out, report) = Observe.measure(spark)(Lineage.iterate("gen", spark.range(8).toDF("x"),
        3, 0L)((df, _, _) => bump(df), observe = _.count()))
      assert(sc.getLocalProperty("spark.job.description") == "caller phase")
      assert(report.jobs.filter(_.group.contains(group)).map(_.description).toSet ==
        Set("gen 1/3", "gen 2/3", "gen 3/3"))
      assert(out.agg(min(col("x"))).head().getLong(0) == 3L)
      Lineage.release(out)
    } finally sc.clearJobGroup()
  }
}
