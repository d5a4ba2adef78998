package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Greedy k-center coreset selection (farthest-point traversal;
  * Gonzalez 1985 — the classic 2-approximation to the k-center
  * objective): pick the point that maximizes the minimum distance to
  * the centers chosen so far, k times. The diversity-sampling primitive
  * of training-data curation — a coreset that COVERS the embedding
  * space, where random sampling oversamples dense regions and
  * [[IntKMeans]] needs k up front to balance them.
  *
  * Determinism: integer milli-scaled coordinates (exact 64-bit squared
  * L2), seed-free start (smallest id), and argmax ties broken to the
  * smallest id via lexicographic struct ordering — the selection
  * sequence is a pure function of the input multiset, so the unrolled
  * per-step argmax is oracle-expressible.
  *
  * Scale shape: the per-point rolling min-distance column updates
  * map-side (the new center rides the plan as a literal — no join, no
  * shuffle); each step's argmax is ONE map-combined struct-max
  * aggregate. k steps = k narrow passes, each over the last step's; the
  * classic trade of the sequential greedy (k passes) for full
  * parallelism within each pass.
  *
  * Plan growth: each step is one [[graft.Lineage.iterate]] generation
  * — a lazy `localCheckpoint` that the step's argmax `collect` fills —
  * so the plan is a LogicalRDD leaf plus one filter and one
  * `least(dmin, d2To(c))` whatever the rank, and a task serializes one
  * RDD of lineage, not one per step since the last cut.
  */
object KCenter {

  /** Select k centers from `points` (id: long, x: array<long> of length
    * dims). Returns (rank, id, d2): the selection order (1-based), the
    * chosen point, and its min squared distance to all PRIOR centers at
    * selection time (0 for the seed; non-increasing thereafter — the
    * covering-radius sequence). */
  def select(points: DataFrame, k: Int, dims: Int): DataFrame = graft.Lineage.scoped { scope =>
    val spark = points.sparkSession
    import spark.implicits._
    def d2To(cx: Array[Long]) = (0 until dims).map { i =>
      val d = element_at(col("x"), i + 1) - lit(cx(i))
      d * d
    }.reduce(_ + _)
    val seed = points.orderBy(col("id")).limit(1).collect().head
    val seedId = seed.getAs[Long]("id")
    val seedX = seed.getAs[scala.collection.Seq[Long]]("x").toArray
    var chosen = List((1, seedId, 0L))
    // The next center, appended to `chosen`: argmax(dmin), ties to the
    // SMALLEST id — struct max compares dmin first, then -id (max of -id
    // = min id); x rides along for the next update's literal. None once
    // the pool is empty (k > |points|).
    def farthest(pool: DataFrame): Option[(Long, Array[Long])] = {
      val m = pool.agg(max(struct(col("dmin"), (-col("id")).as("nid"),
        col("x"))).as("m")).select(col("m.*")).collect().head
      if (m.isNullAt(m.fieldIndex("nid"))) None
      else {
        chosen ::= ((chosen.size + 1, -m.getAs[Long]("nid"), m.getAs[Long]("dmin")))
        Some((-m.getAs[Long]("nid"), m.getAs[scala.collection.Seq[Long]]("x").toArray))
      }
    }
    // chosen centers leave the candidate pool: without the filter, once
    // the covering radius hits 0 (k exceeds the distinct coordinate
    // vectors — duplicate embeddings), the argmax would re-select the
    // smallest-id already-chosen point forever instead of the remaining
    // co-located ones. With it, duplicates are emitted at d2 = 0 until
    // the pool is exhausted, at which point selection stops early.
    val pool = scope.cached(points.select(col("id").cast("long").as("id"), col("x"))
      .filter(col("id") =!= seedId)
      .withColumn("dmin", d2To(seedX)))
    val second = if (k >= 2) farthest(pool) else None
    if (k > 2 && second.nonEmpty)
      graft.Lineage.release(graft.Lineage.iterate("kcenter", pool, k - 2, second)(
        (pool, center, _) => {
          val (id, x) = center.get
          pool.filter(col("id") =!= id).withColumn("dmin", least(col("dmin"), d2To(x)))
        },
        observe = farthest, until = (_, center) => center.isEmpty))
    chosen.reverse.toDF("rank", "id", "d2")
  }
}
