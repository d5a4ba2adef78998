package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous min-label propagation — the deterministic community /
  * connected-component primitive. Every node starts labelled with its own
  * id; each superstep replaces a node's label with the minimum of its own
  * and all neighbours' labels. With enough iterations the labels converge
  * to each connected component's minimum id (this is the classic
  * "hash-min" connected-components algorithm); a FIXED iteration count
  * keeps the result deterministic and SQL-expressible, which is what the
  * oracle pins.
  *
  * Scale shape: the undirected edge list is hash-partitioned by `src`
  * and deduplicated in one exchange ([[Edges.undirected]]) and persisted,
  * and superstep 1's action fills it; each superstep shuffles only the
  * (node, label) table — O(V) rows — against the co-located edges, then
  * a map-side partial min-aggregate collapses neighbour candidates
  * before the final shuffle. Each superstep is one
  * [[graft.Lineage.iterate]] generation, so the plan does not grow with
  * `iterations`.
  */
object LabelPropagation {

  /** Run `iterations` supersteps over an edge table with string
    * `src`/`dst` columns (direction is ignored — edges are symmetrized).
    * Returns (node, lbl). */
  def run(edges: DataFrame, iterations: Int): DataFrame = graft.Lineage.scoped { scope =>
    val und = scope.cached(Edges.undirected(edges))
    val seed = scope.cached(und.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node")))
    graft.Lineage.iterate("label_prop", seed, iterations, 0L)(
      (labels, _, _) => {
        // neighbour minimum: edge (src, dst) contributes dst's label to src
        val nbrMin = und.join(labels, und("dst") === labels("node"))
          .groupBy(und("src").as("node"))
          .agg(min(col("lbl")).as("nbr"))
        labels.join(nbrMin, Seq("node"), "left_outer")
          .select(col("node"),
            least(col("lbl"), coalesce(col("nbr"), col("lbl"))).as("lbl"))
      }, observe = _.count())
  }
}
