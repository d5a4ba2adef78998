package graft.derive

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.Biolink

/** AnswerCoalesce file builder (SURVEY §2.8 D4, §2.5 A14).
  * Reference: orion/answercoalesce_build.py:57-165 — six text artifacts
  * (nodelabels, nodenames, category_count, prov, links, backlinks) with a
  * node blocklist, predicate filter, and symmetric-predicate direction
  * folding. The reference holds nodes_to_links/edgecounts in driver dicts;
  * here every artifact is a DataFrame aggregation that scales out.
  */
object AnswerCoalesce {

  val FilterPredicates: Seq[String] = Seq(
    "biolink:related_to_at_concept_level", "biolink:related_to_at_instance_level")

  /** predicate-parts key: canonical JSON of predicate + qualifiers
    * (ref parse_line :20-29, sort_keys=True). */
  def predicateBlob(edges: DataFrame): Column = {
    val qcols = edges.columns.filter(Biolink.isQualifier).sorted
    val fields = ("predicate" +: qcols.toSeq).sorted
    to_json(struct(fields.map(f => col(f)): _*))
  }

  final case class AcFiles(
      nodeLabels: DataFrame,    // id, category
      nodeNames: DataFrame,     // id, name
      categoryCount: DataFrame, // category, n
      prov: DataFrame,          // edge key, prov json
      links: DataFrame,         // node, links array<struct(other,predicateBlob,isSource)>
      backlinks: DataFrame)     // node, predicateBlob, isSource, category, n

  /** The six artifacts, read off the kept nodes and edges, which are
    * cached in `scope`: close it once every artifact is written. */
  def build(scope: graft.Scope, nodes: DataFrame, edges: DataFrame,
            blocklist: Set[String] = Set.empty,
            symmetricPredicates: Set[String] = Biolink.symmetricPredicates): AcFiles = {

    val blockCol: Column => Column = c =>
      if (blocklist.isEmpty) lit(false)
      else c.isin(blocklist.toSeq: _*) // blocklist is small (ARS list) → isin

    val keptNodes = scope.cached(nodes
      .filter(!col("id").startsWith("CAID") && !blockCol(col("id"))))

    val nodeLabels = keptNodes.select(col("id"), col("category"))
    val nodeNames = keptNodes.select(col("id"),
      coalesce(col("name"), lit("")).as("name"))
    val categoryCount = keptNodes
      .select(explode(col("category")).as("category"))
      .groupBy("category").agg(count(lit(1)).as("n"))

    val keptEdges = scope.cached(edges
      .filter(!col(Biolink.Subject).startsWith("CAID") && !col(Biolink.Object_).startsWith("CAID"))
      .filter(!blockCol(col(Biolink.Subject)) && !blockCol(col(Biolink.Object_)))
      .filter(!col(Biolink.Predicate).isin(FilterPredicates: _*))
      .withColumn("_pred_blob", predicateBlob(edges))
      .withColumn("_symmetric",
        col(Biolink.Predicate).isin(symmetricPredicates.toSeq: _*)))

    val prov = {
      val provCols = Seq(Biolink.PrimaryKnowledgeSource, Biolink.AggregatorKnowledgeSources)
        .filter(edges.columns.contains)
      if (provCols.isEmpty) keptEdges.limit(0).select(lit("").as("key"), lit("").as("prov"))
      else keptEdges
        .select(concat_ws(" ", col(Biolink.Subject), col("_pred_blob"), col(Biolink.Object_)).as("key"),
          to_json(struct(provCols.map(col): _*)).as("prov"))
        .filter(col("prov") =!= "{}")
    }

    // links: forward (subject → (object, blob, true)) plus reverse
    // (object → (subject, blob, symmetric)) — symmetric predicates fold the
    // reverse direction into is_source=true (ref :136-147)
    val fwd = keptEdges.select(col(Biolink.Subject).as("node"),
      struct(col(Biolink.Object_).as("other"), col("_pred_blob").as("predicate"),
        lit(true).as("is_source")).as("link"))
    val bwd = keptEdges.select(col(Biolink.Object_).as("node"),
      struct(col(Biolink.Subject).as("other"), col("_pred_blob").as("predicate"),
        col("_symmetric").as("is_source")).as("link"))
    val links = fwd.unionByName(bwd)
      .groupBy("node").agg(collect_list(col("link")).as("links"))

    // backlinks: per (node, blob, isSource, other-endpoint category) counts
    val cats = keptNodes.select(col("id"), array_distinct(col("category")).as("cats"))
    val fwdCat = keptEdges
      .join(cats.withColumnRenamed("id", "_cid"), col(Biolink.Object_) === col("_cid"))
      .select(col(Biolink.Subject).as("node"), col("_pred_blob").as("predicate"),
        lit(true).as("is_source"), explode(col("cats")).as("category"))
    val bwdCat = keptEdges
      .join(cats.withColumnRenamed("id", "_cid"), col(Biolink.Subject) === col("_cid"))
      .select(col(Biolink.Object_).as("node"), col("_pred_blob").as("predicate"),
        col("_symmetric").as("is_source"), explode(col("cats")).as("category"))
    val backlinks = fwdCat.unionByName(bwdCat)
      .groupBy("node", "predicate", "is_source", "category")
      .agg(count(lit(1)).as("n"))

    AcFiles(nodeLabels, nodeNames, categoryCount, prov, links, backlinks)
  }
}
