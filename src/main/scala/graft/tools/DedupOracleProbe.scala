package graft.tools

import org.apache.spark.sql.functions._
import graft.{Lineage, Sessions, Tables}
import graft.dedup.Dedup

/** Dev probe for choosing oracle-safe thresholds for q34/q35: computes the
  * exact jaccard distribution of all near-dup pairs, then checks whether the
  * MinHash-LSH and SimHash candidate sets achieve 100% recall above a set of
  * candidate thresholds. Usage: runMain graft.tools.DedupOracleProbe [sfDir...]
  */
object DedupOracleProbe {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
               else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16"))
    for (dir <- dirs) Lineage.scoped { scope =>
      val docs = Tables.documents(spark, dir)
      println(s"=== $dir (${docs.count()} docs) ===")
      // exact ground truth: all pairs with jaccard >= 0.1 (no dfCap — true jaccard)
      val exact = scope.cached(Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleN = 3, minJaccard = 0.1, dfCap = Int.MaxValue))
      println("exact jaccard histogram (>=0.1):")
      exact.withColumn("bucket", floor(col("jaccard") * 10) / 10)
        .groupBy("bucket").count().orderBy("bucket").collect()
        .foreach(r => println(s"  ${r.get(0)}: ${r.get(1)}"))

      // EXACTLY the production configs: q34 = minhash b32×r2; q35 = simhash
      // blocks=4 (default maxHamming) ∪ the q34 minhash set. Probing any
      // other config would validate a pipeline nobody runs.
      val mh = scope.cached(Dedup.minhashLshCandidates(docs, "doc_id", "text",
        shingleN = 3, bands = 32, rowsPerBand = 2)
        .select("id_a", "id_b"))
      val shAll = scope.cached(Dedup.simhashCandidates(docs, "doc_id", "text",
        blocks = 4, maxHamming = 8))
      val sh = shAll.select("id_a", "id_b")
      val union = scope.cached(sh.union(mh).distinct())
      val wn = scope.cached(Dedup.winnowingCandidates(docs, "doc_id", "text",
        shingleN = 5, window = 4, dfCap = 100))
      val wnUnion = scope.cached(wn.union(mh).distinct())
      println(s"minhash cands(b32r2): ${mh.count()}, simhash cands(b4): ${sh.count()}, " +
        s"union: ${union.count()}, winnowing cands: ${wn.count()}, wnUnion: ${wnUnion.count()}")
      println("truth-pair hamming histogram (jaccard>=0.8):")
      exact.filter(col("jaccard") >= 0.8)
        .join(shAll, Seq("id_a", "id_b"), "left")
        .groupBy("hamming").count().orderBy("hamming").collect()
        .foreach(r => println(s"  ${r.get(0)}: ${r.get(1)}"))
      for (tau <- Seq(0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)) {
        val truth = exact.filter(col("jaccard") >= tau)
        val nTruth = truth.count()
        val missMh = truth.join(mh, Seq("id_a", "id_b"), "left_anti").count()
        val missSh = truth.join(sh, Seq("id_a", "id_b"), "left_anti").count()
        val missUnion = truth.join(union, Seq("id_a", "id_b"), "left_anti").count()
        val missWn = truth.join(wn, Seq("id_a", "id_b"), "left_anti").count()
        val missWnUnion = truth.join(wnUnion, Seq("id_a", "id_b"), "left_anti").count()
        println(f"  tau=$tau%.1f truth=$nTruth%d missMinhash=$missMh%d " +
          f"missSimhash=$missSh%d missUnion(q35)=$missUnion%d " +
          f"missWinnow=$missWn%d missWnUnion(q46)=$missWnUnion%d")
      }
    }
    spark.stop()
  }
}
