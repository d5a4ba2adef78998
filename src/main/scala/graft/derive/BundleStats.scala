package graft.derive

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.{Biolink, BiolinkModel, InforesCatalog}

/** A bundle's statistics (SURVEY §2.5 A12-A13, §2.8 D6): the graph QC
  * (ref orion/kgx_validation.py:25-213) and the published `schema.json`
  * (ref orion/kgx_metadata.py:230-447) from one node aggregation and one
  * edge aggregation.
  *
  * Every fact explodes into a tagged (kind, item) row, and one groupBy per
  * side counts them all, keyed by the leaf-category set of the node or of
  * both endpoints. Each node emits one prefix fact, so the node count is
  * their sum; each edge emits one knowledge-source fact, so the edge and
  * predicate counts are theirs. The edges are left-joined to the nodes,
  * and the keys record whether each endpoint was found: QC counts every
  * edge and the missing endpoints, schema.json reads only the edges with
  * both. What reaches the driver is meta-cardinality (type sets ×
  * prefixes, attributes, sources), never row-scale.
  *
  * Precondition: node ids are unique, as they are in a merge result.
  */
object BundleStats {

  final case class QcResults(
      nodeCount: Long, edgeCount: Long,
      nodeTypeCounts: Map[String, Long],
      predicateCounts: Map[String, Long],
      primaryKsCounts: Map[String, Long],
      edgesMissingNodes: Long,
      invalidNodeTypes: Seq[String],
      deprecatedKnowledgeSources: Seq[String],
      invalidKnowledgeSources: Seq[String],
      warnings: Seq[String])

  private final case class Fact(kind: String, item: String, n: Long)
  /** An edge fact by (subject cats, predicate, object cats), with the
    * number of its endpoints missing from the nodes. */
  private final case class EdgeFact(key: (String, String, String), missing: Int, fact: Fact)

  private def fact(kind: String, item: Column): Column =
    struct(lit(kind).as("kind"), item.cast("string").as("item"))

  /** One `kind` fact per column of `cols` that is set on the row; the item
    * cast to string unifies an empty list (an ARRAY<NULL> literal) with
    * the string families. */
  private def present(kind: String, cols: Seq[String]): Column =
    transform(filter(array(cols.map(c => when(col(c).isNotNull, lit(c))): _*), _.isNotNull),
      c => fact(kind, c))

  private def prefix(id: Column): Column = regexp_extract(id, "^([^:]+):", 1)

  private def none(item: String): String = Option(item).getOrElse("(none)")

  /** The QC results and the schema.json tree, which a bundle writes as it
    * is. */
  def apply(nodes: DataFrame, edges: DataFrame): (QcResults, ObjectNode) = {
    val noFacts = typedlit(Seq.empty[(String, String)]).cast("array<struct<kind:string,item:string>>")
    // a node without a category is a NamedThing, as KGX writes it
    val leaves = BiolinkModel.leafCategories(coalesce(col("category"), array(lit(Biolink.NamedThing))))
    val cats = array_join(array_sort(leaves), "|")

    // nodes: prefix "p", attribute "a" and leaf type "t" facts by cats
    val nodeFacts: Seq[(String, Fact)] = nodes
      .select(cats.as("cats"), explode(concat(
        array(fact("p", prefix(col("id")))),
        present("a", nodes.columns.filterNot(Seq("id", "category").contains).toSeq),
        coalesce(transform(leaves, t => fact("t", t)), noFacts))).as("f"))
      .groupBy(col("cats"), col("f.kind"), col("f.item")).count().collect().toSeq
      .map(r => r.getString(0) -> Fact(r.getString(1), r.getString(2), r.getLong(3)))

    // edges: knowledge source "pks", endpoint prefixes "sp"/"op",
    // qualifier "q", attribute "at" and aggregator "aggks" facts by
    // (subject cats, predicate, object cats) and the endpoints' presence
    val hasPks = edges.columns.contains(Biolink.PrimaryKnowledgeSource)
    val core = Set(Biolink.Subject, Biolink.Object_, Biolink.Predicate,
      Biolink.PrimaryKnowledgeSource, Biolink.Sources)
    val (qualifiers, attributes) = edges.columns.toSeq.filterNot(core).partition(Biolink.isQualifier)
    val aggregators =
      if (edges.columns.contains(Biolink.AggregatorKnowledgeSources))
        coalesce(transform(col(Biolink.AggregatorKnowledgeSources), k => fact("aggks", k)), noFacts)
      else noFacts
    val byId = nodes.select(col("id"), cats.as("cats"), lit(true).as("hit"))
    def endpoint(side: String, tag: String) =
      byId.select(col("id").as(side), col("cats").as(s"${tag}_cats"), col("hit").as(s"${tag}_hit"))
    val edgeFacts: Seq[EdgeFact] = edges
      .join(endpoint(Biolink.Subject, "s"), Seq(Biolink.Subject), "left")
      .join(endpoint(Biolink.Object_, "o"), Seq(Biolink.Object_), "left")
      .select(col("s_cats"), col(Biolink.Predicate).cast("string").as("p"), col("o_cats"),
        col("s_hit").isNull.as("s_missing"), col("o_hit").isNull.as("o_missing"),
        explode(concat(
          array(fact("pks", if (hasPks) col(Biolink.PrimaryKnowledgeSource) else lit(null)),
            fact("sp", prefix(col(Biolink.Subject))), fact("op", prefix(col(Biolink.Object_)))),
          present("q", qualifiers), present("at", attributes), aggregators)).as("f"))
      .groupBy(col("s_cats"), col("p"), col("o_cats"), col("s_missing"),
        col("o_missing"), col("f.kind"), col("f.item")).count().collect().toSeq
      .map(r => EdgeFact((r.getString(0), r.getString(1), r.getString(2)),
        Seq(r.getBoolean(3), r.getBoolean(4)).count(identity),
        Fact(r.getString(5), r.getString(6), r.getLong(7))))

    (qc(nodeFacts.map(_._2), edgeFacts, hasPks),
      schema(nodeFacts, edgeFacts.collect { case EdgeFact(key, 0, f) => key -> f }))
  }

  private def sums(xs: Seq[(String, Long)]): Map[String, Long] = xs.groupMapReduce(_._1)(_._2)(_ + _)

  private def total(fs: Seq[Fact], kind: String): Long = fs.collect { case Fact(`kind`, _, n) => n }.sum

  /** D6 — exact counts (QC is exact in the reference), leaf-type counts,
    * the invalid-node-type check (ref orion/biolink_utils.py:202-233) and
    * the infores-catalog status of every knowledge source, deprecated or
    * invalid ones as warnings. */
  private def qc(nodeFacts: Seq[Fact], edgeFacts: Seq[EdgeFact], hasPks: Boolean): QcResults = {
    val typeCounts = sums(nodeFacts.collect { case Fact("t", t, n) => none(t) -> n })
    val invalidTypes = typeCounts.keys
      .filterNot(t => t == "(none)" || BiolinkModel.isKnownCategory(t)).toSeq.sorted
    // one "pks" fact per edge
    val pks = edgeFacts.filter(_.fact.kind == "pks")
    val pksCounts = if (hasPks) sums(pks.map(e => none(e.fact.item) -> e.fact.n)) else Map.empty[String, Long]
    val allKs = (pksCounts.keySet - "(none)") ++
      edgeFacts.collect { case EdgeFact(_, _, Fact("aggks", k, _)) if k != null => k }
    val deprecatedKs = InforesCatalog.vendored.deprecated(allKs)
    val invalidKs = InforesCatalog.vendored.invalid(allKs)
    val missing = pks.map(e => e.missing * e.fact.n).sum
    val warnings =
      (if (missing > 0) Seq(s"$missing edge endpoints missing from nodes") else Nil) ++
      (if (invalidTypes.nonEmpty) Seq(s"invalid node types: ${invalidTypes.mkString(", ")}") else Nil) ++
      deprecatedKs.map(ks => s"deprecated infores identifier: $ks") ++
      invalidKs.map(ks => s"invalid infores identifier: $ks")
    QcResults(total(nodeFacts, "p"), pks.map(_.fact.n).sum, typeCounts,
      sums(pks.map(e => e.key._2 -> e.fact.n)), pksCounts, missing, invalidTypes, deprecatedKs, invalidKs,
      warnings)
  }

  /** The schema.json tree: nodes by leaf-category set, edges by (subject
    * set, predicate, object set), each with count-descending maps, and a
    * summary of each side. */
  private def schema(nodeFacts: Seq[(String, Fact)],
                     edgeFacts: Seq[((String, String, String), Fact)]): ObjectNode = {
    val root = new ObjectMapper().createObjectNode()
    def countMap(node: ObjectNode, name: String, m: Seq[(String, Long)]): Unit = {
      val o = node.putObject(name)
      sums(m).toSeq.sortBy { case (k, v) => (-v, k) }.foreach { case (k, v) => o.put(k, v) }
    }
    def categories(arr: ArrayNode, cats: String): Unit = cats.split("\\|").filter(_.nonEmpty).foreach(arr.add)
    def items(fs: Seq[Fact], kind: String, noneForNull: Boolean = true): Seq[(String, Long)] =
      fs.collect { case Fact(`kind`, item, n) => (if (noneForNull) none(item) else item) -> n }

    val nodesArr = root.putArray("nodes")
    nodeFacts.groupMap(_._1)(_._2).toSeq.sortBy(_._1).foreach { case (cats, fs) =>
      val o = nodesArr.addObject()
      categories(o.putArray("category"), cats)
      o.put("count", total(fs, "p"))
      countMap(o, "id_prefixes", items(fs, "p", noneForNull = false))
      countMap(o, "attributes", items(fs, "a"))
    }
    val allNodeFacts = nodeFacts.map(_._2)
    val nodesSummary = root.putObject("nodes_summary")
    nodesSummary.put("total_count", total(allNodeFacts, "p"))
    countMap(nodesSummary, "id_prefixes", items(allNodeFacts, "p", noneForNull = false))
    countMap(nodesSummary, "attributes", items(allNodeFacts, "a"))

    val edgesArr = root.putArray("edges")
    edgeFacts.groupMap(_._1)(_._2).toSeq.sortBy(_._1).foreach { case ((s, p, o), fs) =>
      val e = edgesArr.addObject()
      categories(e.putArray("subject_category"), s)
      e.put("predicate", p)
      categories(e.putArray("object_category"), o)
      e.put("count", total(fs, "pks"))
      countMap(e, "primary_knowledge_sources", items(fs, "pks"))
      countMap(e, "qualifiers", items(fs, "q"))
      countMap(e, "attributes", items(fs, "at"))
      countMap(e, "subject_id_prefixes", items(fs, "sp", noneForNull = false))
      countMap(e, "object_id_prefixes", items(fs, "op", noneForNull = false))
    }
    val pks = edgeFacts.collect { case ((_, p, _), Fact("pks", k, n)) => (none(k), p, n) }
    val allEdgeFacts = edgeFacts.map(_._2)
    val summary = root.putObject("edges_summary")
    summary.put("total_count", pks.map(_._3).sum)
    countMap(summary, "predicates", pks.map(t => t._2 -> t._3))
    countMap(summary, "primary_knowledge_sources", pks.map(t => t._1 -> t._3))
    val byKs = summary.putObject("predicates_by_knowledge_source")
    pks.groupMap(_._1)(t => t._2 -> t._3).toSeq.sortBy(_._1).foreach { case (ks, m) => countMap(byKs, ks, m) }
    countMap(summary, "qualifiers", items(allEdgeFacts, "q"))
    countMap(summary, "attributes", items(allEdgeFacts, "at"))
    root
  }
}
