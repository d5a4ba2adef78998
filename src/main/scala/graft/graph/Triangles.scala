package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed triangle counting over an undirected simple graph.
  *
  * The edge list is canonicalized (self-loops dropped, endpoints ordered,
  * duplicates removed) and then ORIENTED BY DEGREE: every edge points from
  * its lower-(degree, id) endpoint to the higher one, and wedges are only
  * enumerated from each triangle's minimum corner under that total order.
  * A node's wedge contribution is C(out_deg, 2) with out-degree bounded by
  * ~sqrt(2m) — the classic skew guard (Cohen's degree orientation): a
  * power-law hub of degree 100k enumerates ZERO wedges when all its
  * neighbours out-rank it, so the wedge shuffle stays near-uniform at any
  * scale. Closing a wedge is one more equi-join against the oriented edge
  * list. All joins are single-key hash joins Catalyst plans with
  * map-side partial aggregation; AQE resizes the wedge shuffle at runtime.
  *
  * Each triangle {x,y,z} is emitted exactly once regardless of
  * orientation, so an id-ordered enumeration (the DuckDB oracle) produces
  * the identical set — orientation is a physical choice, not a semantic
  * one.
  */
object Triangles {

  /** Self-loops dropped, endpoints id-ordered, duplicates removed. */
  def canonical(edges: DataFrame): DataFrame =
    edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()

  /** All triangles, one row each, corners id-sorted as (n1 < n2 < n3). */
  def triangles(edges: DataFrame): DataFrame = graft.Lineage.scoped { scope =>
    val und = scope.cached(canonical(edges))
    und.count() // materialize once; three joins below reuse it
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // total order (deg, id): orient each edge low → high
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val ka = struct(col("da").as("d"), col("a").as("n"))
    val kb = struct(col("db").as("d"), col("b").as("n"))
    val oriented = scope.cached(withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("u"),
      when(aFirst, ka).otherwise(kb).as("ku"),
      when(aFirst, col("b")).otherwise(col("a")).as("v"),
      when(aFirst, kb).otherwise(ka).as("kv")))
    oriented.count()
    // wedges from the minimum corner u: two out-edges (u,v1), (u,v2) with
    // v1 < v2 in the (deg, id) order, closed by oriented edge v1 → v2
    val e1 = oriented.select(col("u"), col("v").as("v1"), col("kv").as("k1"))
    val e2 = oriented.select(col("u"), col("v").as("v2"), col("kv").as("k2"))
    val close = oriented.select(col("u").as("v1"), col("v").as("v2"))
    e1.join(e2, Seq("u")).filter(col("k1") < col("k2"))
      .join(close, Seq("v1", "v2"), "left_semi")
      .select(array_sort(array(col("u"), col("v1"), col("v2"))).as("t"))
      .select(col("t")(0).as("n1"), col("t")(1).as("n2"), col("t")(2).as("n3"))
      .localCheckpoint()
  }

  /** Per-node triangle participation counts (nodes in ≥1 triangle). */
  def perNode(edges: DataFrame): DataFrame =
    triangles(edges)
      .select(explode(array(col("n1"), col("n2"), col("n3"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
}
