package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Lineage
import graft.functions.VectorExpressions

/** Product quantization ANN (Jégou et al., "Product quantization for
  * nearest neighbor search", TPAMI 2011) — the heavy-compression leg of
  * the ANN suite (brute → LSH → IVF → SQ8 → PQ).
  *
  * The vector is split into `m` subvectors; each subspace gets its own
  * small k-means codebook (seeded, driver-side on a bounded sample — the
  * same shape as Ivf.train), and a vector is stored as `m` code bytes:
  * 64 float32 dims (256 B) → 8 B at m=8/k=256, a 32× compression. Search
  * is ADC (asymmetric distance computation): the query stays full-
  * precision, and its dot products with every centroid of every subspace
  * form one flattened table of m·k doubles, entry s·k + c, built once per
  * query on the broadcast side. A (corpus row, query) pair's score is m
  * lookups `q_table[s·k + code_s]` summed s = 0..m-1 left to right — no
  * dot product per pair.
  *
  * Scale shape: the corpus carries only its code arrays (the 32×-smaller
  * column is the point — at 100 TB the full-precision embeddings never
  * re-scan); queries are bounded and broadcast with their tables; the scan
  * is embarrassingly parallel with a per-query top-k window. Codebooks are
  * one plan literal, the child of the encode and table expressions.
  */
object Pq {

  /** `centroids(s)(c)` = centroid c of subspace s (subDim floats). */
  final case class PqIndex(m: Int, k: Int, subDim: Int,
                           centroids: Array[Array[Array[Float]]])

  /** Seeded per-subspace Lloyd's on a bounded sample (Ivf.sampleVectors,
    * the sampling policy Ivf.train uses). Its driver actions run as
    * "pq: train". */
  def train(corpus: DataFrame, m: Int = 8, k: Int = 16, iters: Int = 10,
            vecCol: String = "embedding", sampleCap: Int = 10000,
            seed: Long = 42L, sampleFraction: Double = 0.01): PqIndex = {
    val sample = Lineage.labeled(corpus.sparkSession.sparkContext, "pq: train")(
      Ivf.sampleVectors(corpus, vecCol, sampleCap, seed, sampleFraction))
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    val rnd = new scala.util.Random(seed)
    val centroids = Array.tabulate(m) { s =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim))
      var cs = rnd.shuffle(sub.indices.toList).take(k).map(sub(_)).toArray
      for (_ <- 0 until iters) {
        val sums = Array.fill(cs.length)(new Array[Double](subDim))
        val counts = new Array[Long](cs.length)
        sub.foreach { v =>
          val c = nearestSub(v, cs)
          counts(c) += 1
          var i = 0; while (i < subDim) { sums(c)(i) += v(i); i += 1 }
        }
        cs = cs.indices.map { c =>
          if (counts(c) == 0) cs(c) else sums(c).map(x => (x / counts(c)).toFloat)
        }.toArray
      }
      cs
    }
    PqIndex(m, k, subDim, centroids)
  }

  private def nearestSub(v: Array[Float], cs: Array[Array[Float]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      var d = 0.0; var i = 0
      while (i < v.length) { val t = v(i) - cs(c)(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** m-byte PQ code array for a vector: per subspace, the first index of
    * the L2-nearest centroid, argmin ‖x_s − c‖² = argmax (x_s·c − ‖c‖²/2).
    * One [[graft.functions.PqCodes]] loop per row. */
  def encode(vec: Column, index: PqIndex): Column =
    VectorExpressions.pqCodes(vec, index.centroids)

  /** PQ-ADC top-k: corpus encoded once (m code bytes per row), each query's
    * flattened m·k table built once on the broadcast side, and a pair's
    * score the sum of its m table entries, s = 0..m-1 left to right. */
  def adcTopK(queries: DataFrame, corpus: DataFrame, index: PqIndex, k: Int,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stride = index.centroids.head.length
    val q = queries.select(col(idCol).as("query_id"),
      VectorExpressions.adcTable(col(vecCol), index.centroids).as("q_table"))
    val c = corpus.select(col(idCol).as("neighbor_id"), encode(col(vecCol), index).as("codes"))
    val score = (0 until index.m).map(s =>
      element_at(col("q_table"), element_at(col("codes"), s + 1) + (s * stride + 1))).reduce(_ + _)
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", score)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        graft.functions.StableRound.tieStableRound(col("score"), 6).as("score"))
  }
}
