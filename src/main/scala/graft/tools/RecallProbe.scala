package graft.tools

import org.apache.spark.sql.functions._
import graft.{Lineage, Sessions, Tables}
import graft.sim.{Ivf, Similarity}

/** Dev probe: print raw recall@1 / overlap@5 of the LSH and IVF ANN paths
  * vs brute force on a given sf dir (threshold selection for q37/q40). */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    Lineage.scoped { scope =>
      val emb = Tables.embeddings(spark, dir)
      val queries = emb.filter(col("vec_id") < 50)
      val exact = scope.cached(Similarity.bruteForceTopK(queries, emb, k = 5))

      def stats(name: String, ann: org.apache.spark.sql.DataFrame): Unit = {
        val e1 = exact.filter(col("rank") === 1).select(col("query_id"), col("neighbor_id").as("e"))
        val a1 = ann.filter(col("rank") === 1).select(col("query_id"), col("neighbor_id").as("a"))
        val r1 = e1.join(a1, Seq("query_id"), "left")
          .agg(avg(when(col("a") === col("e"), 1.0).otherwise(0.0))).head().getDouble(0)
        val inter = exact.select(col("query_id"), col("neighbor_id"))
          .join(ann.select(col("query_id"), col("neighbor_id")), Seq("query_id", "neighbor_id"))
          .groupBy(col("query_id")).agg(count(lit(1)).as("h"))
        val ov = exact.groupBy(col("query_id")).agg(count(lit(1)).as("n"))
          .join(inter, Seq("query_id"), "left")
          .agg(avg(coalesce(col("h"), lit(0L)).cast("double") / col("n"))).head().getDouble(0)
        println(f"[probe] $name recall@1=$r1%.3f overlap@5=$ov%.3f")
      }

      stats("lsh_h6_L1", Similarity.lshTopK(queries, emb, k = 5, h = 6))
      stats("lsh_h6_L16", Similarity.lshTopK(queries, emb, k = 5, h = 6, tables = 16))
      stats("lsh_h8_L24", Similarity.lshTopK(queries, emb, k = 5, h = 8, tables = 24))
      val index = Ivf.train(emb, nlist = 8)
      stats("ivf_n8_p2", Ivf.topK(queries, emb, index, k = 5, nprobe = 2))
      stats("ivf_n8_p4", Ivf.topK(queries, emb, index, k = 5, nprobe = 4))
      stats("ivf_n8_p5", Ivf.topK(queries, emb, index, k = 5, nprobe = 5))

      // the exact q37/q40 report rows (pinned into the DuckDB oracle constants)
      println(s"[probe] q37 report rows for $dir:")
      Similarity.recallReport(exact,
        Similarity.lshTopK(queries, emb, k = 5, h = 6, tables = 16), 0.5, 0.45)
        .orderBy(col("metric")).collect().foreach(println)
      println(s"[probe] q40 report rows for $dir:")
      Similarity.recallReport(exact,
        Ivf.topK(queries, emb, index, k = 5, nprobe = 5), 0.8, 0.75)
        .orderBy(col("metric")).collect().foreach(println)
    }
    spark.stop()
  }
}
