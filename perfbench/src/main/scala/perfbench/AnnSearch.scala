package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sim.{Pq, Similarity}
import graft.sim.Pq.PqIndex

/** Seeded clustered 64-d embeddings (Gaussian clusters, so PQ recall is
  * not degenerate): `Pq.train` + `Pq.adcTopK(k = 10)`, judged against an
  * exact dot top-10 built on `Similarity.dot`.
  *
  * Why: the only workload where `sim` does the work. 1 000 corpus rows ×
  * 8 queries make ADC bound by task CPU: measured on 4 cores, about 0.5 ms
  * of task CPU per pair, with almost no shuffle.
  *
  * The ADC result is checked against a scalar ADC over the generated
  * vectors with the pass's own index, so a change to the ADC path that
  * moves recall fails the pass.
  */
final case class AnnSearch(corpus: Int = 1000, queries: Int = 8) extends Workload {
  val name = "ann_search"
  val layers = Seq("sim.pq_train", "sim.pq_adc", "sim.exact_topk")
  val dim = 64
  val clusters = 32
  val m = 16
  val k = 16
  val topK = 10

  /** Exact dot top-k, the truth PQ-ADC approximates. */
  def exactDotTopK(q: DataFrame, c: DataFrame, k: Int): DataFrame = {
    val scored = c.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_vec"))
      .crossJoin(broadcast(q.select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", Similarity.dot(col("q_vec"), col("c_vec")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("score"))
  }

  /** Σ a_i·b_i over float vectors, summed in double from the left, as
    * the library's dot-product expression does. */
  private def dot(a: Array[Float], b: Array[Float], from: Int, n: Int): Double = {
    var acc = 0.0; var i = 0
    while (i < n) { acc += a(from + i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  private def topIds(scored: Seq[(Long, Double)]): Seq[Long] =
    scored.sortBy { case (id, s) => (-s, id) }.take(topK).map(_._1)

  /** Scalar PQ-ADC top-k with `index`: each subvector coded to its first
    * centroid of largest `x·c − ‖c‖²/2`, a row's score the sum of its
    * query's table entries in subspace order. It repeats the arithmetic
    * of `Pq.adcTopK`'s expressions, so the ids must agree exactly. */
  def scalarAdcTopK(index: PqIndex, corpusRows: Seq[(Long, Array[Float])],
                    queryRows: Seq[(Long, Array[Float])]): Map[Long, Seq[Long]] = {
    val sd = index.subDim
    val halfNorms = index.centroids.map(_.map(c => c.map(x => x.toDouble * x).sum / 2.0))
    val codes = corpusRows.map { case (id, v) =>
      id -> Array.tabulate(index.m) { s =>
        val cs = index.centroids(s)
        val score = cs.indices.map(c => dot(v, cs(c), s * sd, sd) - halfNorms(s)(c))
        var best = 0
        for (c <- 1 until cs.length if score(c) > score(best)) best = c
        best
      }
    }
    queryRows.map { case (qid, qv) =>
      val tables = Array.tabulate(index.m)(s => index.centroids(s).map(c => dot(qv, c, s * sd, sd)))
      qid -> topIds(codes.map { case (id, code) =>
        var acc = tables(0)(code(0)); var s = 1
        while (s < index.m) { acc += tables(s)(code(s)); s += 1 }
        (id, acc)
      })
    }.toMap
  }

  def generate(spark: SparkSession, seed: Long, dir: String): Inputs = {
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(clusters, dim)(rnd.nextGaussian())
    def point(): Array[Float] = {
      val c = centers(rnd.nextInt(clusters))
      Array.tabulate(dim)(i => (c(i) + 0.35 * rnd.nextGaussian()).toFloat)
    }
    val corpusRows = (0 until corpus).map(i => (i.toLong, point()))
    val queryRows = (0 until queries).map(i => (corpus.toLong + i, point()))
    import spark.implicits._
    val slices = 4 * spark.sparkContext.defaultParallelism
    val c = spark.sparkContext.parallelize(corpusRows, slices).toDF("vec_id", "embedding").persist()
    val q = spark.sparkContext.parallelize(queryRows, 1).toDF("vec_id", "embedding").persist()
    c.write.format("noop").mode("overwrite").save()
    q.write.format("noop").mode("overwrite").save()
    // scalar brute force over the generated vectors: the exact check
    val scalarTruth = queryRows.map { case (qid, qv) =>
      qid -> topIds(corpusRows.map { case (id, v) => (id, dot(qv, v, 0, dim)) })
    }.toMap

    new Inputs {
      val rows: Long = corpus.toLong * queries
      def release(): Unit = { c.unpersist(blocking = true); q.unpersist(blocking = true) }
      def pass(ctx: Ctx): PassOut = {
        val annOut = s"${ctx.dir}/ann"
        val exactOut = s"${ctx.dir}/exact"
        val index = ctx.layer("sim.pq_train")(Pq.train(c, m = m, k = k))
        ctx.layer("sim.pq_adc")(ctx.sink(ctx.result(Pq.adcTopK(q, c, index, k = topK)), annOut))
        ctx.layer("sim.exact_topk")(ctx.sink(ctx.result(exactDotTopK(q, c, topK)), exactOut))
        new PassOut {
          /** query id → neighbor ids in rank order. */
          private def ranked(p: String): Map[Long, Seq[Long]] =
            ctx.spark.read.parquet(p).collect()
              .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
              .groupBy(_._1).map { case (qid, rs) => qid -> rs.sortBy(_._3).map(_._2).toSeq }
          private lazy val (ann, exact) = (ranked(annOut), ranked(exactOut))
          private lazy val recall: Double =
            scalarTruth.map { case (qid, ids) => ann.getOrElse(qid, Nil).count(ids.toSet).toDouble }.sum /
              (queries * topK)
          override def facts: Map[String, Double] = Map("recall_at_10" -> recall)
          def check(): Seq[String] = {
            val adcRef = scalarAdcTopK(index, corpusRows, queryRows)
            val qids = queryRows.map(_._1)
            (Seq(s"ann queries ${ann.keySet}, expected ${qids.toSet}" -> (ann.keySet == qids.toSet),
              s"exact queries ${exact.keySet}, expected ${qids.toSet}" -> (exact.keySet == qids.toSet),
              s"recall_at_10 $recall is degenerate" -> (recall > 0.05)) ++
              qids.flatMap(qid => Seq(
                s"exact top-$topK of query $qid differs from the scalar brute force" ->
                  exact.get(qid).contains(scalarTruth(qid)),
                s"ADC top-$topK of query $qid differs from the scalar ADC with the same index" ->
                  ann.get(qid).contains(adcRef(qid)))))
              .collect { case (msg, false) => msg }
          }
          def outputBytes: Long = Files2.sizeOf(Files2.path(annOut)) + Files2.sizeOf(Files2.path(exactOut))
        }
      }
    }
  }
}
