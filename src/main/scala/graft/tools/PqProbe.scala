package graft.tools

import org.apache.spark.sql.functions._
import graft.sim.{Pq, Similarity}

/** Measures the q66 pinned-oracle values: PQ-ADC recall vs the exact dot
  * top-k, per scale factor and (m, k). The q66Sql literals in
  * queries.CorpusQueries come from this tool's output at the production
  * setting — rerun after any change to Pq.train/encode/adcTopK or the
  * dot expression. */
object PqProbe {
  def main(args: Array[String]): Unit = {
    val sfs =
      if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val spark = graft.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    for (dir <- sfs; (m, k) <- Seq((8, 16), (8, 64), (16, 16))) {
      val emb = graft.Tables.embeddings(spark, dir)
      val queries = emb.filter(col("vec_id") < 50)
      val exact = Similarity.exactDotTopK(queries, emb, k = 5)
      val index = Pq.train(emb, m = m, k = k)
      val ann = Pq.adcTopK(queries, emb, index, k = 5)
      val rows = Similarity.recallReport(exact, ann, 0.0, 0.0)
        .orderBy(col("metric")).collect()
      val vals = rows.map(r => f"${r.getString(0)}=${r.getDouble(2)}%.4f").mkString(" ")
      println(s"PROBE sf=$dir m=$m k=$k $vals")
    }
    spark.stop()
  }
}
