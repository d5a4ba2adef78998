package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.StableRound

/** Neighborhood Jaccard similarity over a bipartite edge list — "how
  * alike are two entities by the feature sets they touch" (suppliers by
  * parts shipped, users by items clicked, documents by shingles). The
  * same intersect-count-over-degree shape the near-dup verifier uses,
  * exposed as a first-class graph operator.
  *
  * Scale shape: the intersection join shuffles on the FEATURE key, so its
  * fan-out per feature is C(feature_degree, 2) — the hot-feature skew
  * guard is to drop ubiquitous features up front (`maxFeatureDeg`),
  * exactly like dropping stopword shingles in MinHash: a feature touching
  * every entity contributes O(n²) pairs and zero discriminative signal.
  * After the pair count, degrees join back broadcast (the degree table is
  * O(entities)) and the Jaccard ratio is exact-integer arithmetic, so
  * [[StableRound.tieStableRound]] is bit-stable across engines.
  */
object NodeSimilarity {

  /** Pairwise Jaccard over `edges` with (src, feat) columns. Pairs with
    * fewer than `minCommon` shared features are dropped; features shared
    * by more than `maxFeatureDeg` entities are ignored (skew + signal).
    * Returns (s1, s2, n_common, jaccard) with s1 < s2. */
  def jaccard(edges: DataFrame, minCommon: Int,
              maxFeatureDeg: Int = Int.MaxValue): DataFrame = graft.Lineage.scoped { scope =>
    val e0 = edges.select(col("src"), col("feat")).distinct()
    val e = scope.cached(if (maxFeatureDeg == Int.MaxValue) e0 else {
      val hot = e0.groupBy(col("feat")).agg(count(lit(1)).as("fd"))
        .filter(col("fd") > maxFeatureDeg).select(col("feat"))
      e0.join(broadcast(hot), Seq("feat"), "left_anti")
    })
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val inter = e.select(col("src").as("s1"), col("feat"))
      .join(e.select(col("src").as("s2"), col("feat")), Seq("feat"))
      .filter(col("s1") < col("s2"))
      .groupBy(col("s1"), col("s2"))
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
    inter
      .join(broadcast(deg.select(col("src").as("s1"), col("deg").as("d1"))), Seq("s1"))
      .join(broadcast(deg.select(col("src").as("s2"), col("deg").as("d2"))), Seq("s2"))
      .select(col("s1"), col("s2"), col("n_common"),
        StableRound.tieStableRound(
          col("n_common").cast("double") /
            (col("d1") + col("d2") - col("n_common")).cast("double"), 6)
          .as("jaccard"))
      .localCheckpoint()
  }
}
