package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor — the second scale
  * path next to LSH (graft.sim.Similarity.lshTopK).
  *
  *  - a coarse quantizer (k-means over a driver-side sample, seeded Lloyd's
  *    iterations — deterministic) partitions the space into nlist cells;
  *  - the corpus is assigned to its nearest centroid once (one pass, the
  *    assignment is the partition key — at 100 TB this is the only shuffle
  *    and it replaces any N² work);
  *  - a query probes its nprobe nearest cells only; candidates meet through
  *    an equi-join on centroid_id.
  *
  * All scoring runs through the codegen vector expressions.
  */
object Ivf {

  final case class IvfIndex(centroids: Seq[Array[Float]]) {
    def nlist: Int = centroids.size
  }

  /** Up to `sampleCap` vectors of `vecCol`, collected to the driver — the
    * training sample of both quantizers (this one and Pq.train).
    *
    * A random sample across ALL partitions, not limit(): limit takes the
    * first files' rows, so at scale a quantizer would train on one
    * source's distribution and every other cell would sit empty.
    * Fast path: a blind fixed fraction + limit — ONE job, no sizing count()
    * over the corpus. It fills the cap whenever the corpus has
    * ≥ sampleCap/sampleFraction rows (1M at the defaults) — i.e. always at
    * scale. Only when the blind sample comes up short (corpus provably
    * small, ≲ 1M rows) do we pay a count() to pick an exact fraction. */
  private[sim] def sampleVectors(corpus: DataFrame, vecCol: String, sampleCap: Int,
                                 seed: Long, sampleFraction: Double): Array[Array[Float]] = {
    val vecs = corpus.select(col(vecCol))
    val blind = vecs.sample(withReplacement = false, math.min(1.0, sampleFraction), seed)
      .limit(sampleCap).collect()
    val rows =
      if (blind.length >= sampleCap) blind
      else {
        val n = corpus.count() // small corpus — exact sizing is cheap here
        if (n <= sampleCap) vecs.collect()
        else vecs.sample(withReplacement = false, math.min(1.0, sampleCap * 1.2 / n), seed)
          .limit(sampleCap).collect()
      }
    val sample = rows.map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "empty corpus")
    sample
  }

  /** Driver-side k-means on a bounded sample (≤ sampleCap vectors), seeded —
    * deterministic across runs, no MLlib dependency. */
  def train(corpus: DataFrame, nlist: Int, iters: Int = 10,
            vecCol: String = "embedding", sampleCap: Int = 10000,
            seed: Long = 42L, sampleFraction: Double = 0.01): IvfIndex = {
    val sample = sampleVectors(corpus, vecCol, sampleCap, seed, sampleFraction)
    val dim = sample.head.length
    val rnd = new scala.util.Random(seed)
    var centroids = rnd.shuffle(sample.indices.toList).take(nlist).map(sample(_)).toArray
    for (_ <- 0 until iters) {
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Long](centroids.length)
      sample.foreach { v =>
        val c = nearestCentroid(v, centroids)
        counts(c) += 1
        var i = 0; while (i < dim) { sums(c)(i) += v(i); i += 1 }
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(x => (x / counts(c)).toFloat)
      }.toArray
    }
    IvfIndex(centroids.toSeq)
  }

  private def nearestCentroid(v: Array[Float], cs: Array[Array[Float]]): Int = {
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

  private def centroidLit(c: Array[Float]): Column = array(c.map(lit(_)): _*)

  /** Distance-to-centroid scores as an array column (codegen dot per cell). */
  private def centroidScores(vec: Column, index: IvfIndex): Column =
    array(index.centroids.map(c =>
      graft.functions.VectorExpressions.cosineSimilarity(vec, centroidLit(c))): _*)

  /** Nearest-cell assignment (corpus side; one value per row). */
  def assignCell(vec: Column, index: IvfIndex): Column = {
    val scores = centroidScores(vec, index)
    // array_position is 1-based; centroid_id is 0-based
    (array_position(scores, array_max(scores)) - 1).cast("int")
  }

  /** Top-nprobe cell ids for a query vector (probing array). */
  def probeCells(vec: Column, index: IvfIndex, nprobe: Int): Column = {
    val scores = centroidScores(vec, index)
    // sort (score, idx) pairs descending by score, take nprobe cell indexes
    slice(
      transform(
        reverse(array_sort(transform(scores,
          (s, i) => struct(s.as("s"), i.as("i"))))),
        p => p.getField("i")),
      1, nprobe)
  }

  /** IVF top-k: corpus assigned once, queries probe nprobe cells. */
  def topK(queries: DataFrame, corpus: DataFrame, index: IvfIndex,
           k: Int, nprobe: Int = 2,
           idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
      assignCell(col(vecCol), index).as("cell"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      explode(probeCells(col(vecCol), index, nprobe)).as("cell"))
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score",
        round(graft.functions.VectorExpressions.cosineSimilarity(col("q_vec"), col("c_vec")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("score"))
  }
}
