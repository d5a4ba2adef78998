package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.text.TextOps

/** EXACT set-similarity self-join by prefix filtering (the AllPairs /
  * PPJoin family: Bayardo et al. WWW 2007; Xiao et al. WWW 2008) — the
  * guaranteed-recall counterpart to the probabilistic candidate engines
  * in [[Dedup]] (minhash bands, simhash blocks, winnowing): every pair
  * with Jaccard ≥ τ provably surfaces, with no band-math recall
  * argument and no O(N²) comparison.
  *
  * Principle: impose ONE global order on the shingle universe —
  * ascending document frequency, ties by shingle hash (rarest first) —
  * and take from each document's ordered set only its first
  * p = |x| − ⌈τ·|x|⌉ + 1 tokens (the "prefix"). Disjoint prefixes
  * force every common token past the end of the earlier-closing prefix
  * (any smaller token of either set would sit inside both prefixes),
  * so |x∩y| ≤ |x| − p_x = ⌈τ·|x|⌉ − 1 < τ·|x| ≤ τ·|x∪y| — i.e.
  * J(x,y) < τ. Contrapositive: every qualifying pair shares a PREFIX
  * token and is found by the prefix-token inverted-index self-join. Because the global
  * order puts the rarest tokens in prefixes, the index is naturally
  * skew-free: the hot-shingle blowup that forces the dfCap recall
  * compromise in [[Dedup.ngramJaccardPairs]] structurally cannot
  * happen (a stopword shingle lands at the END of the order and never
  * enters a prefix unless the prefix is the whole set).
  *
  * Scale shape: df computation is one map-combined aggregation; the
  * rarest-first per-document order is a LOCAL sort_array over each
  * row's own shingles (no global rank, no single-partition window);
  * the candidate join shuffles only (shingle, id, n) on provably rare
  * keys; a length filter (τ·|x| ≤ |y| ≤ |x|/τ) prunes before the
  * shared exact verifier. ε-slack on the two ⌈τ·n⌉ computations keeps
  * double rounding strictly conservative (longer prefix / wider length
  * window — never a missed pair).
  */
object PrefixJoin {

  /** All pairs with exact shingle-Jaccard ≥ tau, as
    * (id_a, id_b, jaccard) with id_a < id_b, jaccard tie-stably rounded
    * to 4 digits (the [[Dedup.verifyJaccardPairs]] contract). */
  def selfJoin(df: DataFrame, idCol: String, textCol: String,
               shingleN: Int, tau: Double): DataFrame = graft.Lineage.scoped { scope =>
    val docs = graft.scale.Skew.ensureParallelism(df)
      .select(col(idCol).as("id"),
        graft.functions.TextExpressions.distinctShingleHashes(
          TextOps.tokens(col(textCol)), shingleN).as("shingles"))
      .withColumn("n", size(col("shingles")))
      .filter(col("n") > 0)
    // the inverted index feeds both the df count and the df-attach join —
    // persist so the shingle explode lineage runs once
    val tok = scope.cached(docs.select(col("id"), col("n"), explode(col("shingles")).as("sh")))
    val dfreq = tok.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    // prefix length p = n − ⌈τ·n⌉ + 1; the ε guard makes an unlucky
    // upward double rounding of τ·n lengthen the prefix, never shorten it
    val prefixLen = (col("n") - ceil(col("n") * lit(tau) - lit(1e-9)) + lit(1)).cast("int")
    val pref = tok.join(dfreq, Seq("sh"))
      .groupBy(col("id"), col("n"))
      .agg(sort_array(collect_list(struct(col("df"), col("sh")))).as("ordered"))
      .select(col("id"), col("n"),
        explode(slice(col("ordered"), lit(1), prefixLen)).as("t"))
      .select(col("id"), col("n"), col("t.sh").as("sh"))
    val a = pref.select(col("sh"), col("id").as("id_a"), col("n").as("n_a"))
    val b = pref.select(col("sh"), col("id").as("id_b"), col("n").as("n_b"))
    val cands = a.join(b, Seq("sh"))
      .filter(col("id_a") < col("id_b"))
      // J ≥ τ forces τ·|x| ≤ |y| ≤ |x|/τ; ε keeps the prune conservative
      .filter(col("n_b") >= col("n_a") * lit(tau) - lit(1e-9) &&
              col("n_a") >= col("n_b") * lit(tau) - lit(1e-9))
      .select(col("id_a"), col("id_b")).distinct()
      .localCheckpoint()
    Dedup.verifyJaccardPairs(df, idCol, textCol, cands, shingleN)
      .filter(col("jaccard") >= tau)
  }
}
