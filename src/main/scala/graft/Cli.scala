package graft

import org.apache.spark.sql.SparkSession
import graft.io.{GraphCsvSink, KgxIO}
import graft.derive.{AnswerCoalesce, DerivedGraphs, MetaKg, Neo4jMetaKg}
import graft.merge.{GraphMerger, MergeEngine}
import graft.pipeline.{GraphBundle, GraphSpec}

/** Thin CLI mirroring the reference entry points (SURVEY §2.9 O6:
  * orion-build/-merge/-meta-kg/-redundant-kg/-ac/-neo4j-dump/
  * -memgraph-dump).
  *
  * Usage:
  *   graft.Cli merge <nodesA,jsonl> <edgesA> <nodesB> <edgesB> <outDir>
  *   graft.Cli redundant <edges.jsonl> <outDir>
  *   graft.Cli collapse <edges.jsonl> <outDir>
  *   graft.Cli meta-kg <nodes.jsonl> <edges.jsonl> <outDir>
  *   graft.Cli ac <nodes.jsonl> <edges.jsonl> <outDir>
  *   graft.Cli neo4j-csv <nodes.jsonl> <edges.jsonl> <outDir>
  *   graft.Cli memgraph-csv <nodes.jsonl> <edges.jsonl> <outDir>
  *   graft.Cli curate <documents.parquet> <outDir>
  *   graft.Cli quality <table.parquet> <keyCol> <outDir>
  */
object Cli {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.Cli <command> [args...]")
    val spark = Sessions.local()
    try run(spark, args) finally spark.stop()
  }

  def run(spark: SparkSession, args: Array[String]): Unit = args(0) match {
    case "merge" =>
      // standalone merge (ref orion/cli/merge_kgs.py): two file sets → bundle
      val Array(_, nodesA, edgesA, nodesB, edgesB, out) = args
      val merged = GraphMerger.mergeGraph(primary = Seq(
        GraphMerger.SourceGraph("a", spark.read.json(nodesA), spark.read.json(edgesA)),
        GraphMerger.SourceGraph("b", spark.read.json(nodesB), spark.read.json(edgesB))))
      try GraphBundle.finalizeBundle(
        GraphSpec(graphId = "merged", sources = Nil), merged.nodes, merged.edges, out)
      finally merged.release()
    case "redundant" =>
      KgxIO.writeJsonl(DerivedGraphs.redundantEdges(spark.read.json(args(1))), args(2))
    case "collapse" =>
      KgxIO.writeJsonl(DerivedGraphs.collapsedQualifierEdges(spark.read.json(args(1))), args(2))
    case "meta-kg" =>
      val (nodes, edges) = (spark.read.json(args(1)), spark.read.json(args(2)))
      MetaKg.writeMetaKgFiles(nodes, edges, args(3))
    case "plater-meta-kg" => // D7: the neo4j_generated_* pair, from DataFrames
      val (nodes, edges) = (spark.read.json(args(1)), spark.read.json(args(2)))
      Neo4jMetaKg.generate(nodes, edges, args(3))
    case "ac" => Lineage.scoped { scope =>
      val ac = AnswerCoalesce.build(scope, spark.read.json(args(1)), spark.read.json(args(2)))
      val out = args(3)
      ac.nodeLabels.write.mode("overwrite").json(out + "/nodelabels")
      ac.nodeNames.write.mode("overwrite").json(out + "/nodenames")
      ac.categoryCount.coalesce(1).write.mode("overwrite").json(out + "/category_count")
      ac.prov.write.mode("overwrite").json(out + "/prov")
      ac.links.write.mode("overwrite").json(out + "/links")
      ac.backlinks.write.mode("overwrite").json(out + "/backlinks")
    }
    case "neo4j-csv" =>
      GraphCsvSink.writeNeo4jNodes(spark.read.json(args(1)), args(3) + "/nodes")
      GraphCsvSink.writeNeo4jEdges(spark.read.json(args(2)), args(3) + "/edges")
    case "memgraph-csv" =>
      GraphCsvSink.writeNeo4jNodes(spark.read.json(args(1)), args(3) + "/nodes")
      GraphCsvSink.writeMemgraphEdges(spark.read.json(args(2)), args(3) + "/edges")
    case "publish" =>
      GraphBundle.publish(args(1), args(2))
    case "parse" =>
      // orion-ingest front door: parse <source_id> <dataDir> <outDir>
      // (registered parsers: graft.parsers.Registry)
      val Array(_, sourceId, dataDir, out) = args
      val g = graft.parsers.Registry(sourceId)(spark, dataDir)
      // a parser may emit an id more than once; a KGX node file holds one row per id
      KgxIO.writeJsonl(g.nodes.dropDuplicates("id"), s"$out/source_nodes.jsonl")
      KgxIO.writeJsonl(g.edges, s"$out/source_edges.jsonl")
    case "sources" =>
      println(graft.parsers.Registry.all.keys.toSeq.sorted.mkString("\n"))
    case "curate" =>
      // training-data front door: curate <documents.parquet> <outDir>
      // PII-redact, score (heuristic + hashed linear classifier),
      // language-ID, token-count, deterministic train/val split, and
      // shuffle-sharded layout; written partitioned by (split, shard)
      // with rows sorted by shard seq — the reproducible training-order
      // write pattern
      import org.apache.spark.sql.functions._
      import graft.text.{HashClassifier, Pii, TextOps}
      val Array(_, docsPath, out) = args
      // metrics are computed over the ORIGINAL text — [EMAIL]/[PHONE]
      // placeholders would skew punct ratios and token counts — and only
      // then is the text column replaced by its redacted form
      val curated = spark.read.parquet(docsPath)
        .withColumn("quality", TextOps.qualityScore(col("text")))
        .withColumn("clf_score", HashClassifier.scoreExpr(col("text")))
        .withColumn("detected_lang", TextOps.langId(col("text")))
        .withColumn("n_tokens", TextOps.tokenCount(col("text")).cast("long"))
        .withColumn("text", Pii.redact(col("text")))
        .withColumn("split", graft.pipeline.Sampling.hashSplit(col("doc_id"), 13))
      graft.pipeline.Sampling.shuffleShard(curated, col("doc_id"), nShards = 8)
        .repartition(col("split"), col("shard"))
        .sortWithinPartitions(col("shard"), col("seq"))
        .write.mode("overwrite").partitionBy("split", "shard").parquet(out)
    case "quality" =>
      // data-quality gate: quality <table.parquet> <keyCol> <outDir> —
      // completeness of EVERY column plus uniqueness of the declared key,
      // all in one aggregation pass (graft.quality.Checks); the report
      // parquet is the artifact a pipeline gate asserts on
      import graft.quality.Checks._
      val Array(_, tablePath, keyCol, out) = args
      val df = spark.read.parquet(tablePath)
      val suite = df.columns.toSeq.map(c =>
        Completeness(s"completeness_$c", c): Check) :+
        Uniqueness(s"unique_$keyCol", Seq(keyCol))
      graft.quality.Checks.run(df, suite)
        .coalesce(1).write.mode("overwrite").parquet(out)
    case other =>
      throw new IllegalArgumentException(s"unknown command: $other")
  }
}
