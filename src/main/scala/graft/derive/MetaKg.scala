package graft.derive

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model.Biolink

/** Meta-KG aggregation plane (SURVEY §2.5 A10-A11, §2.8 D3).
  * Reference: orion/meta_kg.py:50-187. The bundle's QC and schema.json
  * statistics are [[BundleStats]].
  */
object MetaKg {

  /** Node id → biolink LEAF types (J6): one row per category that is not a
    * strict ancestor of another of the node's categories
    * (find_biolink_leaves, orion/biolink_utils.py:44-60) — correct even
    * when categories aren't most-specific-first, unlike category[0]. */
  def nodeTypes(nodes: DataFrame): DataFrame =
    nodes.select(col("id"),
        explode(graft.model.BiolinkModel.leafCategories(col("category"))).as("node_type"))

  /** A11/D3 — meta-edges: (subject type, predicate, object type) with edge
    * count, attribute names, and one example edge triple. */
  def metaEdges(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val types = nodeTypes(nodes)
    val subjT = types.select(col("id").as("_sid"), col("node_type").as("subject_type"))
    val objT = types.select(col("id").as("_oid"), col("node_type").as("object_type"))
    val attributeCols = edges.columns
      .filterNot(Seq(Biolink.Subject, Biolink.Object_, Biolink.Predicate).contains)
    edges
      .join(subjT, edges(Biolink.Subject) === col("_sid"))
      .join(objT, edges(Biolink.Object_) === col("_oid"))
      .groupBy(col("subject_type"), col(Biolink.Predicate), col("object_type"))
      .agg(
        count(lit(1)).as("n_edges"),
        first(struct(col(Biolink.Subject).as("subject"), col(Biolink.Object_).as("object"))).as("example"),
        array_sort(array_distinct(flatten(collect_list(
          filter(array(attributeCols.map(c =>
            when(col(c).isNotNull, lit(c)).otherwise(lit(null))): _*), _.isNotNull))))).as("attributes"))
  }

  /** meta-nodes: leaf type → count + curie prefix set
    * (meta_kg.py:76-90 keys node metadata by leaf types). */
  def metaNodes(nodes: DataFrame): DataFrame =
    nodes
      .select(explode(graft.model.BiolinkModel.leafCategories(col("category"))).as("node_type"),
        // split(':')[0] like the reference — a colonless id contributes
        // itself, not an empty string
        split(col("id"), ":").getItem(0).as("prefix"))
      .groupBy(col("node_type"))
      .agg(count(lit(1)).as("n_nodes"),
        array_sort(collect_set(col("prefix"))).as("id_prefixes"))

  /** D3 — the meta-KG file trio (ref orion/meta_kg.py:14-16,23-218):
    * meta_knowledge_graph.json (TRAPI nodes/edges), testing_data.json
    * (one example edge per meta-edge), example_edges.jsonl. Aggregates are
    * meta-edge-cardinality-sized → safe to collect. */
  def writeMetaKgFiles(nodes: DataFrame, edges: DataFrame, outDir: String): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val me = metaEdges(nodes, edges).collect()
    val mn = metaNodes(nodes).collect()

    val metaKg = mapper.createObjectNode()
    val nodesObj = metaKg.putObject("nodes")
    mn.sortBy(_.getAs[String]("node_type")).foreach { r =>
      val t = nodesObj.putObject(r.getAs[String]("node_type"))
      val pfx = t.putArray("id_prefixes")
      r.getSeq[String](r.fieldIndex("id_prefixes")).foreach(pfx.add)
    }
    val edgesArr = metaKg.putArray("edges")
    me.sortBy(r => (r.getAs[String]("subject_type"), r.getAs[String]("predicate"),
        r.getAs[String]("object_type"))).foreach { r =>
      val e = edgesArr.addObject()
      e.put("subject", r.getAs[String]("subject_type"))
      e.put("predicate", r.getAs[String]("predicate"))
      e.put("object", r.getAs[String]("object_type"))
      val attrs = e.putArray("attributes")
      r.getSeq[String](r.fieldIndex("attributes")).foreach(attrs.add)
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outDir, "meta_knowledge_graph.json"), metaKg.toPrettyString)

    val testing = mapper.createObjectNode()
    val examples = testing.putArray("edges")
    val exampleLines = new StringBuilder
    me.foreach { r =>
      val ex = r.getStruct(r.fieldIndex("example"))
      val o = examples.addObject()
      o.put("subject_category", r.getAs[String]("subject_type"))
      o.put("predicate", r.getAs[String]("predicate"))
      o.put("object_category", r.getAs[String]("object_type"))
      o.put("subject_id", ex.getAs[String]("subject"))
      o.put("object_id", ex.getAs[String]("object"))
      exampleLines.append(o.toString).append('\n')
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outDir, "testing_data.json"), testing.toPrettyString)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outDir, "example_edges.jsonl"), exampleLines.toString)
  }
}
