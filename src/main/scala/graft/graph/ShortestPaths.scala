package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source weighted shortest paths by synchronous Bellman-Ford
  * relaxation — the missing sibling of [[Bfs]] (unweighted levels) for
  * cost-weighted reachability: cheapest supply route, minimum-latency
  * hop chains, weighted ontology distance. Handles NEGATIVE edge
  * weights on DAGs/bounded-round inputs, which rules out Dijkstra and
  * makes the fixed-round synchronous form the natural distributed one
  * (Pregel SSSP; Malewicz et al. SIGMOD 2010 §5.2).
  *
  * Each round is one equi-join of the current distance table against
  * the edge list plus a min-groupBy — both shuffles on the node key,
  * and the edge table is hash-partitioned by `src` ONCE and persisted,
  * filled by round 1's action, so per-round work reuses its layout. A
  * FIXED round count keeps the result deterministic and
  * oracle-expressible (a recursive-CTE path
  * enumeration reaches the same fixpoint on inputs whose longest
  * shortest path fits in the budget); rounds ≥ longest-path length ⇒
  * exact fixpoint, extra rounds are idempotent. Each round is one
  * [[graft.Lineage.iterate]] generation, so the plan does not grow with
  * rounds. At 100× the per-round shape is unchanged: two narrow
  * (node, dist) shuffles.
  */
object ShortestPaths {

  /** `rounds` synchronous relaxations from `seeds` (dist 0) over
    * `edges` (src, dst, w: integer weight — exact arithmetic, no float
    * accumulation drift). Returns (node, dist): the minimum path cost
    * to every node reachable within `rounds` hops, seeds included. */
  def run(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = graft.Lineage.scoped { scope =>
    val e = scope.cached(edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
      .repartition(col("src")))
    val seed = scope.cached(seeds.select(col("node")).distinct()
      .withColumn("dist", lit(0L)))
    graft.Lineage.iterate("sssp", seed, rounds, 0L)((dist, _, _) =>
      // aliases: dist derives from e after round 1, so the self-join
      // needs explicit sides (the Bfs ambiguity note)
      dist.alias("d")
        .join(e.alias("e"), col("d.node") === col("e.src"))
        .select(col("e.dst").as("node"), (col("d.dist") + col("e.w")).as("dist"))
        .unionByName(dist)
        .groupBy(col("node")).agg(min(col("dist")).as("dist")),
      observe = _.count())
  }
}
