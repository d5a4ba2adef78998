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
  * once and persisted; each superstep shuffles only the (node, label)
  * table — O(V) rows — against the co-located edges, then a map-side
  * partial min-aggregate collapses neighbour candidates before the final
  * shuffle. Each superstep is one [[graft.Lineage.iterate]] generation,
  * so the plan does not grow with `iterations`.
  */
object LabelPropagation {

  /** Run `iterations` supersteps over an edge table with string
    * `src`/`dst` columns (direction is ignored — edges are symmetrized).
    * Returns (node, lbl). */
  def run(edges: DataFrame, iterations: Int): DataFrame = {
    val fwd = edges.filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
    val und = fwd.unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .repartition(col("src")).persist()
    val seed = und.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node")).persist()
    val labels = graft.Lineage.iterate("label_prop", seed, iterations, seed.count())(
      (labels, _, _) => {
        // neighbour minimum: edge (src, dst) contributes dst's label to src
        val nbrMin = und.join(labels, und("dst") === labels("node"))
          .groupBy(und("src").as("node"))
          .agg(min(col("lbl")).as("nbr"))
        labels.join(nbrMin, Seq("node"), "left_outer")
          .select(col("node"),
            least(col("lbl"), coalesce(col("nbr"), col("lbl"))).as("lbl"))
      }, observe = _.count())
    und.unpersist()
    labels
  }
}
