package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic graph walk sampling — the neighbor-sampling primitive
  * of graph-embedding pipelines (DeepWalk/node2vec walk corpora,
  * GraphSAGE fan-out), made REPRODUCIBLE the way distributed systems
  * actually do it: instead of a stateful RNG (whose draw order depends
  * on partitioning), each hop picks the out-neighbor minimizing a
  * mixing hash of (current node, step, neighbor). The walk corpus is
  * then a pure function of the graph — identical across runs, executor
  * counts, and engines, which is what makes a cross-engine oracle (and
  * a reproducible training corpus) possible.
  *
  * Scale shape: the edge list is src-partitioned and deduplicated in one
  * exchange ([[Edges.directed]]) and persisted, filled by hop 1's action;
  * each hop is one equi-join of the walk frontier against it plus a
  * per-walk argmin (window keyed by the walk id — walks are
  * independent, so the partition is the natural parallel unit and never
  * wider than a node's out-degree). Dead ends stick: a walk with no
  * out-edge carries null hops from there on rather than disappearing.
  */
object Walks {

  /** One `steps`-hop walk from every seed. `edges` needs src/dst
    * columns; `seeds` a `node` column; `ord` maps a node column to the
    * integer ordinal fed to the mixing hash. Returns
    * (start, hop1 … hopN). */
  def run(edges: DataFrame, seeds: DataFrame, steps: Int,
          ord: Column => Column): DataFrame = graft.Lineage.scoped { scope =>
    import org.apache.spark.sql.expressions.Window
    val e = scope.cached(Edges.directed(edges))
    // the seed is not materialized on its own (so there is no observation
    // of it): hop 1 reads it inside its own job
    val seed = seeds.select(col("node").as("start")).distinct()
      .withColumn("cur", col("start"))
    val walks = graft.Lineage.iterate("walks", seed, steps, 0L)((walks, _, i) => {
      val score = pmod(
        ord(col("cur")) * 31 + lit(i.toLong) * 17 + ord(col("dst")) * 2654435761L,
        lit(1000003L))
      val w = Window.partitionBy(col("start"))
        .orderBy(score.asc_nulls_last, col("dst").asc_nulls_last)
      walks.join(e, col("cur") === col("src"), "left_outer")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .withColumn(s"hop$i", col("dst"))
        .withColumn("cur", col("dst"))
        .drop("src", "dst", "rn")
    }, observe = _.count())
    walks.drop("cur")
  }
}
