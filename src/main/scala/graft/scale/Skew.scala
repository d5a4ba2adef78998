package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-handling utilities for the 100 TB path.
  *
  * AQE's skew-join split handles most cases (enabled in Sessions.base); the
  * explicit salt is for the case AQE can't fix — a hot build-side key in a
  * non-sort-merge join, or a hot groupBy key (e.g. one node id appearing in
  * millions of edges during the connected-edge-subset join, or a stopword
  * shingle in the dedup inverted index).
  */
object Skew {

  /** Salted equi-join: the probe side gets a random salt in [0, salt);
    * the build side is replicated salt times. Correct for inner/left joins
    * on the probe side. */
  def saltedJoin(probe: DataFrame, build: DataFrame, key: String,
                 salt: Int, joinType: String = "inner"): DataFrame = {
    val saltedProbe = probe.withColumn("_salt",
      (rand(42) * salt).cast("int"))
    val saltedBuild = build.withColumn("_salt",
      explode(sequence(lit(0), lit(salt - 1)))) // replicate build rows salt×
    saltedProbe.join(saltedBuild, Seq(key, "_salt"), joinType).drop("_salt")
  }

  /** Salted aggregation: two-phase groupBy for hot keys — partial agg on
    * (key, salt), final agg on key. Use for algebraic aggregates. */
  def saltedCount(df: DataFrame, key: String, salt: Int = 16): DataFrame =
    df.withColumn("_salt", (rand(42) * salt).cast("int"))
      .groupBy(col(key), col("_salt")).agg(count(lit(1)).as("_partial"))
      .groupBy(col(key)).agg(sum(col("_partial")).as("count"))

  /** Widen under-partitioned input before an expensive per-row expression
    * (interpreted higher-order functions, hashing sweeps). A small parquet
    * table arrives as ONE split and would pin the whole sweep to one core;
    * at scale the scan already has ≥ defaultParallelism splits and this is
    * a no-op — no shuffle is added on the 100 TB path. */
  def ensureParallelism(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= math.max(1, want / 2)) df
    else df.repartition(want)
  }
}
