package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS (Kleinberg 1999) hubs-and-authorities, fixed-iteration, in EXACT
  * integer arithmetic:
  *
  *   auth_{i+1}(v) = Σ_{u→v} hub_i(u)
  *   hub_{i+1}(u)  = Σ_{u→v} auth_{i+1}(v)        (hub_0 = 1)
  *
  * The textbook algorithm normalizes every iteration only to stop the
  * values growing; the RANKING is unchanged by scaling. Keeping the
  * updates unnormalized makes every intermediate an exact integer — sums
  * of products of longs, identical in any engine, no
  * addition-order-dependent doubles anywhere — and one L1 normalization
  * at the END produces the familiar scores as single exact-int divisions
  * (hash-pinnable, unlike per-iteration double normalization which can
  * never be). The price is an overflow budget: scores grow like
  * (d_in·d_out)^i, so `iterations` must keep max_deg^(2i) < 2^63 —
  * asserted cheaply via the final sums being positive.
  *
  * Scale shape — the whole run is ONE Spark job plus a cheap
  * normalization pass, not a job per iteration:
  *  - score vectors are SPARSE (a node absent from the vector has score
  *    0, which an inner join drops — exactly the semantics of the sum),
  *    so the per-iteration node-completion left-joins of the dense
  *    formulation disappear; zeros are filled once at the end;
  *  - hub_0 ≡ 1 means auth_1 is just the in-degree — iteration 1 costs
  *    one aggregation, no join;
  *  - each remaining step is edges ⋈ scores → hash-aggregate: the score
  *    side leaves its aggregation hash-partitioned on `node`, the join
  *    key, so the only exchanges are the small aggregated vectors (AQE
  *    turns the join into a broadcast when the vector is small enough,
  *    and keeps the co-partitioned merge path when it isn't — both
  *    survive 100×, with no re-shuffle of the edge list either way);
  *  - no per-iteration persist/count lineage cuts: with a handful of
  *    exact iterations the composed plan is shallow, and Spark's
  *    exchange reuse dedupes the shared iteration subplans inside the
  *    single materializing job.
  */
object Hits {

  /** Returns (node, hub_raw, auth_raw, hub_share, auth_share) after
    * `iterations` exact-integer rounds; shares are the L1-normalized
    * scores rounded tie-stably to 9. Parallel edges collapse. */
  def run(edges: DataFrame, iterations: Int): DataFrame = graft.Lineage.scoped { scope =>
    val e = scope.cached(Edges.directed(edges))
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()

    val scores =
      if (iterations <= 0)
        nodes.select(col("node"), lit(1L).as("hub"), lit(1L).as("auth"))
          .localCheckpoint()
      else {
        // iteration 1: hub_0 ≡ 1 ⇒ auth_1 = in-degree, aggregation only
        var auth = e.groupBy(col("dst").as("node"))
          .agg(count(lit(1)).cast("long").as("auth"))
        var hub = e.join(auth, e("dst") === auth("node"))
          .groupBy(col("src").as("node")).agg(sum(col("auth")).as("hub"))
        for (_ <- 2 to iterations) {
          auth = e.join(hub, e("src") === hub("node"))
            .groupBy(col("dst").as("node")).agg(sum(col("hub")).as("auth"))
          hub = e.join(auth, e("dst") === auth("node"))
            .groupBy(col("src").as("node")).agg(sum(col("auth")).as("hub"))
        }
        // dense completion, once: nodes never seen as dst (src) carry
        // exact zeros the sparse vectors left implicit
        nodes
          .join(hub.select(col("node"), col("hub")), Seq("node"), "left_outer")
          .join(auth.select(col("node"), col("auth")), Seq("node"), "left_outer")
          .select(col("node"),
            coalesce(col("hub"), lit(0L)).as("hub"),
            coalesce(col("auth"), lit(0L)).as("auth"))
          .localCheckpoint()
      }
    scores
      .crossJoin(broadcast(scores.agg(
        sum(col("hub")).as("hs"), sum(col("auth")).as("asum"))))
      .select(col("node"), col("hub").as("hub_raw"), col("auth").as("auth_raw"),
        graft.functions.StableRound.tieStableRound(
          col("hub").cast("double") / col("hs").cast("double"), 9).as("hub_share"),
        graft.functions.StableRound.tieStableRound(
          col("auth").cast("double") / col("asum").cast("double"), 9).as("auth_share"))
      .localCheckpoint(eager = false)
  }
}
