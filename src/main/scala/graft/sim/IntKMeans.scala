package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic distributed Lloyd k-means with quantized-integer
  * centroids — the embedding-space clustering step of a curation
  * pipeline (topic bucketing, SemDeDup-style cluster-then-dedup,
  * mixture balancing), built so every arithmetic step is EXACT and
  * engine-reproducible:
  *
  *  - features are milli-scaled integers x_i = ⌊e_i·1000⌋ (one IEEE
  *    multiply+floor per coordinate from the float32 input — identical
  *    everywhere, the q39/q117 discipline);
  *  - distances are exact 64-bit integer squared-L2;
  *  - assignment ties break to the lowest centroid id via lexicographic
  *    (d², cid) min — no arbitrary-order reduce;
  *  - updated centroids are re-quantized to the SAME integer units with
  *    c_i = ⌊Σx_i / n⌋ (double division of exact ≤2⁵³ integers, then
  *    floor: the quotient is ≥1/n away from any integer unless exact,
  *    so the floor is bit-stable in every engine);
  *  - initial centroids are the k rows with the smallest ids — seed-free.
  *
  * Lloyd with quantized centroids converges like the textbook version
  * (unit-grid rounding of means) but its trajectory is a pure function
  * of the input multiset, which is what makes a cross-engine oracle
  * possible at all — float-mean k-means diverges across engines in the
  * last ulp of the very first centroid update.
  *
  * Scale shape per iteration: one broadcast of k·dims longs to score
  * every point locally (no shuffle for assignment), then ONE
  * map-combined groupBy(cid) for the centroid update — the classic
  * Spark k-means shape (MLlib's KMeans does the same dance with float
  * vectors). Points never shuffle; only k·dims-sized aggregates move.
  */
object IntKMeans {

  /** Cluster `points` — (id: long, x: array<long> of length dims) — into
    * k clusters, `iterations` full (assign, update) steps, then a final
    * assignment pass. Returns (id, cluster, d2): each point's final
    * centroid id and exact squared distance to it. */
  def assign(points: DataFrame, k: Int, dims: Int, iterations: Int): DataFrame = graft.Lineage.scoped { scope =>
    val pts = scope.cached(points.select(col("id").cast("long").as("id"), col("x")))
    pts.count()
    // init: k smallest ids, centroid id = 0-based rank in that order.
    // k rows — a driver-side take is the broadcast, not a scale concern.
    var cents: Array[(Int, Array[Long])] =
      pts.orderBy(col("id")).limit(k).collect()
        .map(r => r.getAs[scala.collection.Seq[Long]]("x").toArray)
        .zipWithIndex.map { case (x, i) => (i, x) }
    // d² per centroid as a literal-folded expression tree: the k·dims
    // constants ride the plan — nothing joins, nothing shuffles to score.
    // argmin via array_min over (d², cid) structs (lexicographic struct
    // ordering = deterministic low-cid tie-break); a when()-chain reduce
    // would copy the accumulated subtree ~4× per step — exponential plan
    // size in k — where the array literal stays linear.
    def scored(c: Array[(Int, Array[Long])]): Column =
      array_min(array(c.map { case (cid, cx) =>
        val d2 = (0 until dims).map { i =>
          val d = element_at(col("x"), i + 1) - lit(cx(i))
          d * d
        }.reduce(_ + _)
        struct(d2.as("d2"), lit(cid).as("cid"))
      }: _*))
    def assignTo(c: Array[(Int, Array[Long])]): DataFrame =
      pts.withColumn("m", scored(c))
        .select(col("id"), col("m.cid").as("cluster"), col("m.d2").as("d2"))
    for (_ <- 1 to iterations) {
      // assignment and update sums in ONE map-combined pass over the points
      val sums = pts.withColumn("m", scored(cents))
        .groupBy(col("m.cid").as("cluster"))
        .agg(count(lit(1)).as("n"),
          (0 until dims).map(i => sum(element_at(col("x"), i + 1)).as(s"s$i")): _*)
        .collect()
        .map { r =>
          val n = r.getAs[Long]("n")
          (r.getAs[Int]("cluster"),
            (0 until dims).map(i =>
              math.floor(r.getAs[Long](s"s$i").toDouble / n).toLong).toArray)
        }.toMap
      // an emptied cluster keeps its previous centroid (deterministic, no
      // re-seeding) — the oracle's COALESCE twin
      cents = cents.map { case (cid, old) => (cid, sums.getOrElse(cid, old)) }
    }
    assignTo(cents).localCheckpoint()
  }
}
