package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition by synchronous peeling (Seidman 1983; the
  * distributed formulation of Montresor et al. 2013): repeatedly delete
  * every node whose degree in the SURVIVING subgraph is < k; the fixed
  * point is the maximal subgraph where every node has degree ≥ k — the
  * standard dense-substructure filter (spam/link-farm detection, graph
  * sparsification before expensive analytics).
  *
  * A FIXED number of synchronous peel rounds keeps the result
  * deterministic and oracle-expressible (unrolled CTEs), mirroring
  * [[LabelPropagation]]; each round is one map-combined degree
  * aggregation — O(E) narrow rows — and two semi-joins restricting the
  * edge list, one [[graft.Lineage.iterate]] generation per round so the
  * plan does not grow with the round budget. Peeling halves the
  * frontier geometrically in practice; the spec asserts the small-graph
  * fixed point is reached well inside the round budget.
  */
object KCore {

  /** `rounds` synchronous peels of the undirected graph (direction
    * ignored, self-loops dropped). Returns (node, deg): the surviving
    * nodes with their degrees in the surviving subgraph. */
  def run(edges: DataFrame, k: Int, rounds: Int): DataFrame = graft.Lineage.scoped { scope =>
    // src-partitioned, and filled by round 1's action
    val seed = scope.cached(Edges.undirected(edges))
    val und = graft.Lineage.iterate("kcore", seed, rounds, 0L)((und, _, _) => {
      val keep = und.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("src").as("node"))
      // dst-semi first, src-semi LAST: the final join leaves the surviving
      // edge list hash-partitioned on `src`, as the seed is, which the
      // next round's groupBy(src) and src-side semi-join reuse without an
      // exchange (the checkpoint preserves the physical partitioning)
      und
        .join(keep.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
        .join(keep.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
        .select(col("src"), col("dst"))
    }, observe = _.count())
    val out = graft.Lineage.labeled(edges.sparkSession.sparkContext, "kcore: degrees")(
      und.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg")).localCheckpoint())
    graft.Lineage.release(und)
    out
  }
}
