package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank as DataFrame joins — the power-iteration
  * formulation, with dangling-node mass redistributed uniformly:
  *
  *   r'(v) = (1-d)/N + d * ( Σ_{u→v} r(u)/outdeg(u)  +  dangling/N )
  *
  * where `dangling = Σ r(u) over nodes with no out-edges`. With the
  * uniform initial rank 1/N this keeps Σ r(v) = 1 every iteration.
  *
  * Scale shape: per iteration, ONE shuffle and ONE job — contributions
  * are computed by joining ranks to the (src-partitioned, persisted)
  * out-degree-annotated edge list and hash-aggregating on `dst`, and the
  * NEXT iteration's dangling scalar rides the same action that
  * materializes the new rank vector into the cache (`filter(!has_out)
  * .agg(sum(rank)).head()` over the fresh persist computes every
  * partition exactly once and returns the scalar) — there is no separate
  * per-iteration dangling job and no bare `count()` lineage-cut action.
  * The dangling SET is static (nodes with no out-edges), flagged once up
  * front. Each iteration is one [[graft.Lineage.iterate]] generation,
  * with the dangling scalar as its observation; a fixed iteration count
  * (the common production choice — convergence-εs are replaced by a
  * budget) keeps the run bounded.
  *
  * Two rejected alternatives, both measured at sf0.1: (a) a broadcast
  * 1-row-aggregate that fuses the scalar into the update job —
  * per-iteration BroadcastExchange of a subtree over cached data, ≈8×
  * slower; (b) the [[Hits]]-style fully-composed single job — the
  * dangling branch makes every iteration consume r_{i-1} TWICE, so the
  * logical plan doubles per iteration (2^k subtrees) and the measured
  * run was ≈30% slower than this shape despite exchange reuse. HITS
  * composes because its recursion is a linear chain; PageRank's scalar
  * feedback is exactly the part that doesn't.
  *
  * GraphX's Pregel would pin the graph in specialized RDDs; the
  * DataFrame form keeps AQE, codegen, and spill handling, and feeds
  * straight into the rest of the relational pipeline.
  */
object PageRank {

  /** Returns (node, rank) after `iterations` power iterations with
    * damping `d`. `edges` needs `src`/`dst` columns; parallel edges are
    * collapsed (a link counts once, as in the classic formulation). */
  def run(edges: DataFrame, iterations: Int, d: Double = 0.85): DataFrame = {
    val e = edges.select(col("src"), col("dst")).distinct().persist()
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // src-partitioned once; every iteration's contribution join co-locates on it
    val annotated = e.join(outDeg, "src").repartition(col("src")).persist()

    val flagged = nodes.join(
        annotated.select(col("src").as("node")).distinct()
          .withColumn("has_out", lit(true)),
        Seq("node"), "left_outer")
      .select(col("node"), coalesce(col("has_out"), lit(false)).as("has_out"))
      .persist()
    val n = flagged.count() // materializes flagged + annotated; N feeds the literals
    e.unpersist()

    def danglingOf(r: DataFrame): Double = r.filter(!col("has_out"))
      .agg(coalesce(sum(col("rank")), lit(0.0))).head().getDouble(0)

    val seed = flagged.withColumn("rank", lit(1.0 / n)).persist()
    val ranks = graft.Lineage.iterate("pagerank", seed, iterations, danglingOf(seed))(
      (ranks, dangling, _) => {
        val contribs = annotated
          .join(ranks, annotated("src") === ranks("node"))
          .select(col("dst").as("node"), (col("rank") / col("outdeg")).as("c"))
          .groupBy(col("node")).agg(sum(col("c")).as("inflow"))
        flagged.join(contribs, Seq("node"), "left_outer")
          .select(col("node"), col("has_out"),
            (lit((1 - d) / n) +
              lit(d) * (coalesce(col("inflow"), lit(0.0)) + lit(dangling / n)))
              .as("rank"))
      },
      // one action caches every partition of the generation AND returns
      // the next iteration's dangling mass (unused after the last one)
      observe = danglingOf)
    annotated.unpersist()
    flagged.unpersist()
    ranks.select(col("node"), col("rank"))
  }
}
