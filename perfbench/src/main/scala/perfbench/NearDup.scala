package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dedup.{Components, Dedup}

/** Seeded planted-duplicate corpus in the DedupScaleSmoke shape: 30 tokens
  * per document from a base id, every 10th document a near duplicate of
  * its predecessor (one token differs) and every 20th an exact duplicate
  * of the document two before it, the seed folded into the token hashes.
  * Runs minhash LSH → estimated-Jaccard filter → canonicalize.
  *
  * Why: the training-data side. At 5 000 documents it is not bound by
  * shuffle volume: measured on 4 cores, minhash LSH shuffles under 0.01 MB
  * and spends its time in task CPU and per-job driver work. Its pair graph
  * is small, so `dedup.components` takes the driver union-find path.
  */
final case class NearDup(docs: Long = 5000L) extends Workload {
  require(docs % 20 == 0, "docs must be a multiple of 20")
  val name = "near_dup"
  val layers = Seq("dedup.minhash_lsh", "dedup.components")
  val threshold = 0.5

  def plantedDuplicates: Long = docs / 10 + docs / 20

  def generate(spark: SparkSession, seed: Long, dir: String): Inputs = {
    val base = spark.range(docs).select(
      col("id"),
      when(col("id") % 20 === 2, col("id") - 2)
        .otherwise(when(col("id") % 10 === 1, col("id") - 1).otherwise(col("id"))).as("base_id"),
      (col("id") % 10 === 1).as("is_near"))
    val corpus = base.select(
      col("id").as("doc_id"),
      concat_ws(" ",
        (0 until 30).map(i =>
          concat(lit(s"w$i"), pmod(xxhash64(col("base_id") + i, lit(seed)), lit(5000)))) ++
          Seq(when(col("is_near"), concat(lit("extra"), col("id"))).otherwise(lit("common"))): _*)
        .as("text"))
      .persist()
    corpus.write.format("noop").mode("overwrite").save()
    new Inputs {
      val rows: Long = docs
      def release(): Unit = corpus.unpersist(blocking = true)
      def pass(ctx: Ctx): PassOut = {
        val cands = ctx.layer("dedup.minhash_lsh") {
          val c = ctx.result(Dedup.minhashLshCandidates(corpus, "doc_id", "text",
            shingleN = 3, bands = 16, rowsPerBand = 2))
          ctx.noop(c)
          c
        }
        val out = s"${ctx.dir}/decisions"
        ctx.layer("dedup.components") {
          val decisions = ctx.result(Components.canonicalize(corpus.select(col("doc_id").as("id")),
            cands.filter(col("estimated_jaccard") >= threshold)))
          ctx.sink(decisions, out)
        }
        new PassOut {
          private lazy val yieldRow = cands.agg(count(lit(1)),
            sum(when(col("estimated_jaccard") >= threshold, 1L).otherwise(0L))).head()
          override def facts: Map[String, Double] = Map(
            "candidate_yield" -> yieldRow.getLong(1).toDouble / math.max(1L, yieldRow.getLong(0)))
          def check(): Seq[String] = {
            val r = ctx.spark.read.parquet(out).agg(count(lit(1)),
              sum(when(col("is_duplicate"), 1L).otherwise(0L))).head()
            Seq(
              "decision rows" -> (r.getLong(0), docs),
              "duplicates found" -> (r.getLong(1), plantedDuplicates))
              .collect { case (what, (got, want)) if got != want => s"$what: $got, expected $want" }
          }
          def outputBytes: Long = Files2.sizeOf(Files2.path(out))
          override def release(): Unit = Frames.release(cands)
        }
      }
    }
  }
}
