package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale smoke for the iterative graph plane — the operators that are now
  * the bench's cost tail (PageRank / HITS / connected components). The
  * dedup stack has a measured 1M/2M/4M curve and the merge path a 50M-row
  * envelope; this gives the graph plane the same hard evidence: a
  * synthetic power-law graph at 5M/10M/20M edges through the production
  * [[graft.graph.PageRank]], [[graft.graph.Hits]], and
  * [[graft.dedup.Components]] paths, each point result-checked against
  * invariants that are exact by construction.
  *
  * Graph shape (deterministic — pure hash functions of the edge index, no
  * RNG state): n = m/4 nodes in 16 equal blocks. Each block carries a
  * Hamilton path (i → i+1), so the undirected component structure is
  * EXACTLY 16 components covering all n nodes — the Components
  * invariant. On top, 3n skewed edges land within their block: src is
  * uniform over the block (excluding the block-last node, which therefore
  * stays dangling — PageRank's dangling redistribution is live, not
  * vacuous), dst = blockStart + ⌊u²·B⌋ with u uniform — an in-degree
  * density ∝ x^(-1/2), i.e. each block's head nodes are hubs with
  * in-degrees in the thousands. That skew is the point: the per-iteration
  * `groupBy(dst)` hash aggregations absorb it map-side, which is the
  * claim ("narrow per-iteration shuffles survive hubs") this smoke turns
  * from prose into a measured curve.
  *
  * Result checks per point (sentinel gating in Bench, like the dedup
  * curve): Σ PageRank = 1 ± 1e-6 over exactly n nodes (the dangling mass
  * would break this if mishandled); HITS raw sums strictly positive over
  * exactly n nodes (the documented overflow budget held — u² skew keeps
  * max in-degree ~2k, so 4 exact-integer iterations stay inside 2⁶³);
  * Components finds exactly 16 components over exactly n ids.
  *
  * Edges are materialized (persist + count) BEFORE the timers so the
  * curve measures the algorithms, not synthetic-data generation.
  *
  * Usage: runMain graft.GraphScaleSmoke [edgeMillions]
  */
object GraphScaleSmoke {

  final case class Result(prSecs: Double, hitsSecs: Double, ccSecs: Double,
                          totalSecs: Double, nodes: Long, components: Long,
                          prOk: Boolean, hitsOk: Boolean, ccOk: Boolean) {
    def ok: Boolean = prOk && hitsOk && ccOk
  }

  private val nBlocks = 16L

  /** Deterministic power-law-ish block graph with m total edges. */
  private def edges(spark: SparkSession, m: Long): DataFrame = {
    val n = m / 4
    val b = n / nBlocks
    require(n % nBlocks == 0, s"nodes ($n) must divide into $nBlocks blocks")
    val path = spark.range(n)
      .filter(col("id") % b =!= (b - 1))
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    val k = m - (n - nBlocks)
    val skew = spark.range(k).select(
      ((col("id") % nBlocks) * b +
        pmod(xxhash64(col("id"), lit(1)), lit(b - 1))).as("src"),
      ((col("id") % nBlocks) * b +
        floor(pow(pmod(xxhash64(col("id"), lit(2)), lit(1000003L))
          .cast("double") / 1000003.0, 2.0) * b).cast("long")).as("dst"))
    path.unionByName(skew)
  }

  /** Run all three operators over an m-edge graph; wall seconds per op +
    * invariant verdicts. */
  def run(spark: SparkSession, m: Long): Result = Lineage.scoped { scope =>
    val n = m / 4
    val e = scope.cached(edges(spark, m))
    e.count() // materialize: time the algorithms, not the generator
    def time[T](fn: => T): (Double, T) = {
      val t0 = System.nanoTime()
      val r = fn
      ((System.nanoTime() - t0) / 1e9, r)
    }
    val (prSecs, prOk) = time {
      val pr = graft.graph.PageRank.run(e, iterations = 5)
      val row = pr.agg(count(lit(1)).as("n"), sum(col("rank")).as("s")).head()
      row.getLong(0) == n && math.abs(row.getDouble(1) - 1.0) < 1e-6
    }
    val (hitsSecs, hitsOk) = time {
      val h = graft.graph.Hits.run(e, iterations = 4)
      val row = h.agg(count(lit(1)).as("n"), sum(col("hub_raw")).as("hs"),
        sum(col("auth_raw")).as("as")).head()
      row.getLong(0) == n && row.getLong(1) > 0L && row.getLong(2) > 0L
    }
    val (ccSecs, cc) = time {
      val comps = graft.dedup.Components.connectedComponents(
        e.select(col("src").as("id_a"), col("dst").as("id_b")))
      comps.agg(count(lit(1)).as("ids"),
        count_distinct(col("component")).as("comps")).head()
    }
    val ccOk = cc.getLong(0) == n && cc.getLong(1) == nBlocks
    Result(prSecs, hitsSecs, ccSecs, prSecs + hitsSecs + ccSecs,
      n, cc.getLong(1), prOk, hitsOk, ccOk)
  }

  def main(args: Array[String]): Unit = {
    val mMill = if (args.nonEmpty) args(0).toLong else 5L
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val r = run(spark, mMill * 1000000L)
    println(f"[graph-scale-smoke] edges=${mMill}M nodes=${r.nodes} " +
      f"pr=${r.prSecs}%.1f s (ok=${r.prOk}) hits=${r.hitsSecs}%.1f s (ok=${r.hitsOk}) " +
      f"cc=${r.ccSecs}%.1f s (ok=${r.ccOk}, components=${r.components}) " +
      f"total=${r.totalSecs}%.1f s")
    spark.stop()
  }
}
