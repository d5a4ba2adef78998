package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic density-based clustering (DBSCAN; Ester et al. KDD
  * 1996) over integer-scaled 2-D points via grid blocking — the
  * density/outlier view of an embedding space that centroid methods
  * ([[IntKMeans]]) can't give: clusters of arbitrary shape plus an
  * explicit NOISE verdict per point.
  *
  * Determinism: the classic sequential DBSCAN assigns border points to
  * whichever cluster reaches them first (scan-order-dependent). This
  * formulation is the order-free one used by the distributed variants
  * (MR-DBSCAN, He et al. 2011): cluster cores by connected components
  * of the core-core ε-graph, then attach each border point to the
  * MINIMUM cluster id among its core neighbors — a pure function of
  * the input, hence oracle-expressible. Coordinates are milli-scaled
  * integers (⌊e·1000⌋), so every distance is exact 64-bit arithmetic.
  *
  * Scale shape: each point lands in ONE ε-sized grid cell; the
  * neighbor join probes the 3×3 cell block (9-row explode on the probe
  * side — a constant fan-out, not a cross product), which provably
  * covers every pair within ε. Degree count is one map-combined
  * aggregation; core-core edges feed the O(log n) large/small-star
  * component engine ([[graft.dedup.Components]]). Grid-cell skew is
  * data density itself — a cell holding h points yields h² candidate
  * pairs, the same h² a real ε-ball implies, so no blocking scheme can
  * do asymptotically better without losing exactness.
  */
object Dbscan {

  /** Cluster `points` (id: long, x: long, y: long — integer-scaled
    * coordinates). Returns (id, role, cluster): role ∈ core|border|noise,
    * cluster = min core id of the component (−1 for noise). A point is
    * core when ≥ minPts points (itself included) lie within `eps`
    * (squared-L2 ≤ eps²). */
  def run(points: DataFrame, eps: Long, minPts: Int): DataFrame = graft.Lineage.scoped { scope =>
    val pts = points.select(col("id").cast("long").as("id"),
      col("x").cast("long").as("x"), col("y").cast("long").as("y"))
    // ε-grid cell — floor division via double floor: |coords| are
    // milli-scaled (≲2²⁰), far inside double exactness, and floor gives
    // true floor semantics for negatives (integer `/` truncates toward 0)
    def cell(c: org.apache.spark.sql.Column) = floor(c.cast("double") / eps).cast("long")
    val celled = scope.cached(pts
      .withColumn("cx", cell(col("x"))).withColumn("cy", cell(col("y"))))
    celled.count()
    // probe side: each point exploded to its 3×3 neighbor cells; build
    // side: each point in its own cell — every pair within ε shares one
    // (probe-cell = build-cell) key exactly once
    val probe = celled.select(col("id").as("id_a"), col("x").as("xa"), col("y").as("ya"),
        explode(expr("array(-1L, 0L, 1L)")).as("dx"), col("cx"), col("cy"))
      .select(col("id_a"), col("xa"), col("ya"), (col("cx") + col("dx")).as("cx"),
        explode(expr("array(-1L, 0L, 1L)")).as("dy"), col("cy"))
      .select(col("id_a"), col("xa"), col("ya"), col("cx"), (col("cy") + col("dy")).as("cy"))
    val build = celled.select(col("id").as("id_b"), col("x").as("xb"), col("y").as("yb"),
      col("cx"), col("cy"))
    val d2 = (col("xa") - col("xb")) * (col("xa") - col("xb")) +
      (col("ya") - col("yb")) * (col("ya") - col("yb"))
    // directed ε-neighbor pairs, self excluded (counted back as +1 below)
    val nbrs = scope.cached(probe.join(build, Seq("cx", "cy"))
      .filter(col("id_a") =!= col("id_b") && d2 <= lit(eps * eps))
      .select(col("id_a"), col("id_b")))
    nbrs.count()
    // degree over ALL points (left join, 0-neighbor coalesce): the count
    // includes the point itself, so with minPts=1 an isolated point is a
    // singleton CORE cluster, not noise — deriving core from `nbrs` alone
    // would silently exclude neighborless points from ever being core
    val core = scope.cached(pts.select(col("id"))
      .join(nbrs.groupBy(col("id_a").as("id")).agg(count(lit(1)).as("nn")),
        Seq("id"), "left")
      .filter(coalesce(col("nn"), lit(0L)) + 1 >= minPts)
      .select(col("id")))
    core.count()
    // cluster = connected components over the core-core ε-graph
    val coreEdges = nbrs
      .join(core.withColumnRenamed("id", "id_a"), Seq("id_a"), "left_semi")
      .join(core.withColumnRenamed("id", "id_b"), Seq("id_b"), "left_semi")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    val coreClusters = graft.dedup.Components.canonicalize(core, coreEdges)
      .select(col("id"), col("canonical_id").as("cluster"))
    // border: non-core with ≥1 core neighbor → MIN neighbor cluster id
    val borderClusters = nbrs
      .join(core.withColumnRenamed("id", "id_b"), Seq("id_b"), "left_semi")
      .join(core.withColumnRenamed("id", "id_a"), Seq("id_a"), "left_anti")
      .join(coreClusters.withColumnRenamed("id", "id_b"), Seq("id_b"))
      .groupBy(col("id_a").as("id")).agg(min(col("cluster")).as("cluster"))
    pts.select(col("id"))
      .join(coreClusters.withColumn("role", lit("core")), Seq("id"), "left")
      .join(borderClusters.withColumnRenamed("cluster", "bcluster"), Seq("id"), "left")
      .select(col("id"),
        coalesce(col("role"),
          when(col("bcluster").isNotNull, lit("border")).otherwise(lit("noise"))).as("role"),
        coalesce(col("cluster"), col("bcluster"), lit(-1L)).as("cluster"))
      .localCheckpoint()
  }
}
