package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (Array[Float]).
  *
  *  - brute-force cosine top-k: the exactness baseline. Query side is
  *    broadcast; corpus scan is embarrassingly parallel; per-partition
  *    top-k via window. O(|Q|·N) — fine when |Q| is bounded.
  *  - LSH (random hyperplanes): h sign-bits → bucket; top-k within bucket.
  *    The scale path: one shuffle on bucket id, corpus never self-joined.
  *    Hyperplanes are generated from a fixed seed on the driver and folded
  *    into the plan as literals — deterministic, no state.
  *
  * All dot products are expression-level (`zip_with` + `aggregate`),
  * computed in double precision.
  */
object Similarity {

  /** dot(a, b) in double precision — custom codegen Expression (a tight
    * primitive loop; zip_with/aggregate would box per element). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dotProduct(a, b)

  /** Single-pass codegen cosine; accumulation order matches the
    * dot/(‖a‖·‖b‖) composition exactly. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.cosineSimilarity(a, b)

  /** Brute-force cosine top-k: for each query vector, the k nearest corpus
    * vectors (excluding itself when ids collide). */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    // tie-stable rounding (StableRound scaladoc): both engines compute
    // the sequential double dot product bit-identically
    topKBy(queries, corpus, k, idCol, vecCol)((q, c) =>
      graft.functions.StableRound.tieStableRound(cosine(q, c), 6))

  /** Exact full-precision dot top-k over `vec_id`/`embedding`, the truth
    * PQ-ADC approximates (ADC estimates the dot, so judging it against
    * cosine ranking would confound quantization error with the norm term).
    * Raw scores; self excluded. */
  def exactDotTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    topKBy(queries, corpus, k, "vec_id", "embedding")(dot)

  /** Exhaustive top-k: every corpus row scored against every broadcast
    * query by `score(q_vec, c_vec)`, self excluded, ranked by score
    * descending, then neighbor id. */
  private def topKBy(queries: DataFrame, corpus: DataFrame, k: Int, idCol: String, vecCol: String)
                    (score: (Column, Column) => Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", score(col("q_vec"), col("c_vec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("score"))
  }

  /** Deterministic random hyperplanes: h planes × dim, seeded. */
  def hyperplanes(h: Int, dim: Int, seed: Long = 42L): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(h)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bit LSH bucket id for a vector column. */
  def lshBucket(vec: Column, planes: Seq[Array[Double]]): Column = {
    val bits = planes.zipWithIndex.map { case (p, i) =>
      val planeLit = array(p.map(lit(_)): _*)
      when(dot(vec, planeLit) >= 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Per-table (table, bucket) pairs for a vector — `tables` independent
    * sign-LSH tables with distinct plane seeds. */
  private def tableBuckets(vec: Column, h: Int, dim: Int, seed: Long, tables: Int): Column =
    array((0 until tables).map(t =>
      struct(lit(t).as("t"),
        lshBucket(vec, hyperplanes(h, dim, seed + 1000L * t)).as("b"))): _*)

  /** LSH-bucketed ANN top-k: queries and corpus bucketed by the same
    * hyperplanes; candidates only meet within a bucket. Single-table
    * recall is (1-θ/π)^h per neighbor — low when neighbors aren't tight —
    * so `tables` independent tables union their candidate sets
    * (recall = 1-(1-p)^L, the classic multi-table construction). Only
    * narrow (table, bucket, id) rows shuffle; vectors re-attach after the
    * candidate pairs are distinct. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, h: Int = 8,
              dim: Int = 64, idCol: String = "vec_id", vecCol: String = "embedding",
              seed: Long = 42L, tables: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val qb = q.select(col("query_id"),
        explode(tableBuckets(col("q_vec"), h, dim, seed, tables)).as("tb"))
      .select(col("query_id"), col("tb.t").as("t"), col("tb.b").as("b"))
    val cb = c.select(col("neighbor_id"),
        explode(tableBuckets(col("c_vec"), h, dim, seed, tables)).as("tb"))
      .select(col("neighbor_id"), col("tb.t").as("t"), col("tb.b").as("b"))
    val candidates = cb.join(broadcast(qb), Seq("t", "b"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
    val scored = candidates
      .join(broadcast(q), Seq("query_id"))
      .join(c, Seq("neighbor_id"))
      .withColumn("score", round(cosine(col("q_vec"), col("c_vec")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("score"))
  }

  /** Recall report of an ANN result against the exact top-k result — two
    * rows (metric, passed, value), hashable by the driver's oracle gate:
    * recall@1 = fraction of queries whose ANN top-1 equals the exact
    * top-1; overlap@k = mean |ANN ∩ exact| / |exact| per query.
    *
    * `value` is the MEASURED metric (tie-stable rounded to 4 digits), not
    * just the pass verdict — the oracle hash pins the number itself, so a
    * silent recall drift (0.90 → 0.81, still above a 0.8 floor) flips the
    * gate instead of hiding under a boolean. Both metrics are ratios of
    * exact integer counts, so the rounding is cross-engine-stable. */
  def recallReport(exact: DataFrame, ann: DataFrame,
                   recall1Min: Double, overlapMin: Double): DataFrame = {
    val e1 = exact.filter(col("rank") === 1)
      .select(col("query_id"), col("neighbor_id").as("_exact1"))
    val a1 = ann.filter(col("rank") === 1)
      .select(col("query_id"), col("neighbor_id").as("_ann1"))
    val recall1 = e1.join(a1, Seq("query_id"), "left")
      .agg(avg(when(col("_ann1") === col("_exact1"), 1.0).otherwise(0.0)).as("v"))
      .select(lit("recall_at_1").as("metric"), (col("v") >= recall1Min).as("passed"),
        graft.functions.StableRound.tieStableRound(col("v"), 4).as("value"))
    val inter = exact.select(col("query_id"), col("neighbor_id"))
      .join(ann.select(col("query_id"), col("neighbor_id")), Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("_hits"))
    val overlap = exact.groupBy(col("query_id")).agg(count(lit(1)).as("_n"))
      .join(inter, Seq("query_id"), "left")
      .agg(avg(coalesce(col("_hits"), lit(0L)).cast("double") / col("_n")).as("v"))
      .select(lit("topk_overlap").as("metric"), (col("v") >= overlapMin).as("passed"),
        graft.functions.StableRound.tieStableRound(col("v"), 4).as("value"))
    recall1.unionByName(overlap)
  }

  /** Embedding near-duplicate pairs: cosine ≥ τ, via LSH buckets (scale
    * path) or exact within-bucket verify. id_a < id_b. */
  def nearDupPairs(df: DataFrame, tau: Double, h: Int = 8, dim: Int = 64,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val planes = hyperplanes(h, dim)
    val bucketed = df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      lshBucket(col(vecCol), planes).as("bucket"))
    val a = bucketed.select(col("bucket"), col("id").as("id_a"), col("vec").as("vec_a"))
    val b = bucketed.select(col("bucket"), col("id").as("id_b"), col("vec").as("vec_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("score", round(cosine(col("vec_a"), col("vec_b")), 6))
      .filter(col("score") >= tau)
      .select(col("id_a"), col("id_b"), col("score"))
      .dropDuplicates("id_a", "id_b")
  }
}
