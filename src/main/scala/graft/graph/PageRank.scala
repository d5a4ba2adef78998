package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank as DataFrame joins — the power-iteration
  * formulation, with dangling-node mass redistributed uniformly:
  *
  *   r'(v) = (1-d)/N + d * ( Σ_{u→v} r(u)/outdeg(u)  +  dangling/N )
  *
  * where `dangling = Σ r(u) over nodes with no out-edges`. With the
  * uniform initial rank 1/N this keeps Σ r(v) = 1 every iteration.
  *
  * Scale shape: the preparation is one exchange of the edges and one of
  * the node flags, filled by one labelled aggregate ("pagerank:
  * prepare"). The src-partitioned distinct edge list ([[Edges.directed]])
  * takes its out-degree from a window over `src`, which needs no exchange
  * of its own; `has_out` is one `max` per node over (src, true) ∪
  * (dst, false); and the aggregate that fills both caches returns N and
  * the number of dangling nodes, whose seed mass is that count over N.
  * Per iteration, ONE shuffle and ONE job — contributions are computed by
  * joining ranks to the persisted out-degree-annotated edge list and
  * hash-aggregating on `dst`, and the NEXT iteration's dangling scalar
  * rides the same action that materializes the new rank vector into the
  * cache (`filter(!has_out).agg(sum(rank)).head()` over the fresh persist
  * computes every partition exactly once and returns the scalar) — there
  * is no separate per-iteration dangling job and no bare `count()`
  * lineage-cut action. The dangling SET is static (nodes with no
  * out-edges). Each iteration is one [[graft.Lineage.iterate]]
  * generation, with the dangling scalar as its observation; a fixed
  * iteration count (the common production choice — convergence-εs are
  * replaced by a budget) keeps the run bounded.
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
  def run(edges: DataFrame, iterations: Int, d: Double = 0.85): DataFrame = graft.Lineage.scoped { scope =>
    val annotated = scope.cached(outDegrees(Edges.directed(edges)))
    val flagged = scope.cached(annotated.select(col("src").as("node"), lit(true).as("has_out"))
      .unionByName(annotated.select(col("dst").as("node"), lit(false).as("has_out")))
      .groupBy(col("node")).agg(max(col("has_out")).as("has_out")))
    // fills both caches; N feeds the literals
    val prep = graft.Lineage.labeled(edges.sparkSession.sparkContext, "pagerank: prepare")(
      flagged.agg(count(lit(1)), count(when(!col("has_out"), true))).head())
    val n = prep.getLong(0)

    def danglingOf(r: DataFrame): Double = r.filter(!col("has_out"))
      .agg(coalesce(sum(col("rank")), lit(0.0))).head().getDouble(0)

    val seed = flagged.withColumn("rank", lit(1.0 / n))
    val ranks = graft.Lineage.iterate("pagerank", seed, iterations, prep.getLong(1) * (1.0 / n))(
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
    ranks.select(col("node"), col("rank"))
  }

  /** `e` with each edge's source out-degree, from a window over `src`: on
    * an edge list partitioned by `src` it needs no exchange. */
  private[graph] def outDegrees(e: DataFrame): DataFrame =
    e.withColumn("outdeg", count(lit(1)).over(Window.partitionBy(col("src"))))
}
