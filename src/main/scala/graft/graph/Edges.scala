package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The two edge lists the graph operators prepare, each in ONE exchange.
  *
  * Both hash-partition by `src` first and deduplicate second. The
  * partitioning already satisfies the distinct's clustering on
  * (src, dst), so the aggregate runs in place and its output stays
  * partitioned by `src`: the layout every operator's per-generation join
  * or groupBy on `src` reuses. The reverse order, `distinct()` and then
  * `repartition(src)`, shuffles the same edges twice. */
object Edges {

  /** Distinct (src, dst) pairs: a parallel edge counts once. */
  def directed(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst")).repartition(col("src")).distinct()

  /** Symmetrized, loop-free, distinct (src, dst) pairs: direction is
    * ignored and every undirected edge appears once each way. */
  def undirected(edges: DataFrame): DataFrame = {
    val fwd = edges.filter(col("src") =!= col("dst")).select(col("src"), col("dst"))
    fwd.unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src")).distinct()
  }
}
