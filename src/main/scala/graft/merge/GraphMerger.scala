package graft.merge

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.{Lineage, Scope}
import graft.model.Biolink

/** Source-level merge strategies (SURVEY §2.5 A4-A8, §2.4 J4).
  * Reference: orion/kgx_file_merger.py:37-213.
  */
object GraphMerger {

  final case class SourceGraph(sourceId: String, nodes: DataFrame, edges: DataFrame,
                               mergeStrategy: String = "default")

  /** Result of a merge. `nodes`/`edges` read from cached merge
    * intermediates, owned by `caches`: the count jobs materialize them
    * once, and every downstream consumer (bundle write, derived graphs)
    * reuses the cache instead of re-running the merge aggregation. The
    * caches are LRU-evictable under memory pressure; long-lived sessions
    * doing many builds should call [[release]] once a graph is fully
    * consumed. */
  final case class MergedGraph(nodes: DataFrame, edges: DataFrame,
                               mergedNodeCount: Long, mergedEdgeCount: Long)(caches: Scope) {
    /** Free the merge's cached intermediates (recomputation after this
      * re-runs the merge aggregation). */
    def release(): Unit = caches.close()
  }

  /** Cross-source schema harmonization for list-valued properties: the
    * reference's JSON property-merge absorbs a scalar as a one-element
    * list implicitly — its own loaders emit BOTH shapes for the same
    * property (IntAct: scalar pub_id, loadIA.py:376, vs publication
    * arrays everywhere else; SIGNOR: description as a list,
    * loadSIGNOR.py:378, vs CTD's scalar, loadCTD.py:495). A typed union
    * must do the wrap explicitly or a multi-source spec fails on STRING
    * vs ARRAY<STRING> column conflicts. A column counts as list-valued
    * when ANY unioned frame has it as array<string>, plus the Biolink
    * list props (so a single scalar-emitting source still lands in the
    * canonical list shape). */
  private def unionAll(dfs: Seq[DataFrame]): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val arrayCols = dfs.flatMap(_.schema.fields).collect {
      case f if f.dataType.isInstanceOf[ArrayType] &&
        f.dataType.asInstanceOf[ArrayType].elementType == StringType => f.name
    }.toSet ++ Biolink.listProps
    def harmonize(df: DataFrame): DataFrame =
      df.schema.fields.foldLeft(df) { (d, f) =>
        if (arrayCols.contains(f.name) && f.dataType == StringType)
          d.withColumn(f.name, when(col(f.name).isNotNull, array(col(f.name))))
        else d
      }
    dfs.map(harmonize).reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** U1+A1-A3 — merge the primary sources: union, ordinal-tag in source
    * order, property-merge nodes by id and edges by composite key. The
    * merged intermediates are cached in `scope`. */
  private def mergePrimary(scope: Scope, sources: Seq[SourceGraph],
                           edgeMergingAttributes: Seq[String],
                           counters: Option[MergeEngine.MergeCounters]): MergedGraph = {
    val nodes = unionAll(MergeEngine.withOrdinal(sources.map(_.nodes)))
    val edges = unionAll(MergeEngine.withOrdinal(sources.map(_.edges)))
    val mn = scope.cached(MergeEngine.mergeNodes(nodes, counters))
    val me = scope.cached(MergeEngine.mergeEdges(edges, edgeMergingAttributes, counters))
    import org.apache.spark.sql.functions.{sum => fsum}
    val nMergedNodes = mn.agg(fsum("nMerged")).head().getLong(0)
    val nMergedEdges = me.agg(fsum("nMerged")).head().getLong(0)
    MergedGraph(
      MergeEngine.jsonToDf(mn, Some(nodes.schema)),
      MergeEngine.jsonToDf(me, Some(edges.schema)),
      nMergedNodes, nMergedEdges)(scope)
  }

  /** J4 — connected_edge_subset: keep a secondary source's edges only when
    * subject OR object is already in the primary node-id set; backfill the
    * dangling endpoints' nodes (ref orion/kgx_file_merger.py:127-162).
    *
    * Scale shape: the primary id set can be huge, so this is expressed as
    * joins (AQE may still broadcast when small), not a collected set. The
    * OR-semi-join is a left join against the distinct id set on each
    * endpoint with null-flag filtering — one shuffle per endpoint, no
    * row explosion (ids are distinct).
    */
  def connectedEdgeSubset(primaryNodeIds: DataFrame, // single column "id"
                          secondary: SourceGraph): (DataFrame, DataFrame) = {
    val ids = primaryNodeIds.select(col("id")).distinct()
    val e = secondary.edges
    val subjHit = ids.withColumnRenamed("id", "_subj_hit")
    val objHit = ids.withColumnRenamed("id", "_obj_hit")
    val flagged = e
      .join(subjHit, e(Biolink.Subject) === subjHit("_subj_hit"), "left")
      .join(objHit, e(Biolink.Object_) === objHit("_obj_hit"), "left")
    val kept = flagged
      .filter(col("_subj_hit").isNotNull || col("_obj_hit").isNotNull)
      .drop("_subj_hit", "_obj_hit")
    // endpoints of kept edges that the primary graph lacks → backfill nodes
    val keptEndpoints = kept.select(explode(array(col(Biolink.Subject), col(Biolink.Object_))).as("id")).distinct()
    val missing = keptEndpoints.join(ids, Seq("id"), "left_anti")
    val nodesToAdd = secondary.nodes.join(missing, Seq("id"), "left_semi")
    (nodesToAdd, kept)
  }

  /** A8 — dont_merge: nodes participate in the node merge, edge files are
    * appended verbatim (ref orion/kgx_file_merger.py:164-172).
    *
    * Fidelity details, each matching the reference:
    *  - The primary node-id set is FROZEN before any secondary source is
    *    processed (ref kgx_file_merger.py:129-137 computes
    *    `primary_node_ids` once): a later connected_edge_subset source
    *    does NOT keep edges merely for touching an earlier secondary's
    *    backfill nodes.
    *  - Kept secondary edges route through the edge property merge
    *    against the primary result (ref kgx_file_merger.py:148-150 calls
    *    `edge_graph_merger.merge_edge`), so a secondary edge sharing its
    *    composite key with a primary edge is merged, not duplicated.
    *    Only dont_merge edges append verbatim.
    *  - Secondary/dont_merge node additions go through a second
    *    ordinal-tagged property merge against the primary result — the
    *    same first-truthy-wins fold the primary sources got, in source
    *    order (primary result, then secondary backfills, then dont_merge
    *    sources). An earlier version used dropDuplicates("id"), which
    *    keeps an ARBITRARY row per id: nondeterministic output digests
    *    and no property union, neither of which matches the reference.
    *  - Merge counts include the second-pass node/edge merges (the
    *    reference's merge metadata records per-source counts). */
  def mergeGraph(primary: Seq[SourceGraph],
                 secondary: Seq[SourceGraph] = Nil,
                 dontMerge: Seq[SourceGraph] = Nil,
                 edgeMergingAttributes: Seq[String] = Nil,
                 counters: Option[MergeEngine.MergeCounters] = None): MergedGraph = Lineage.owned { scope =>
    import org.apache.spark.sql.functions.{sum => fsum}
    val base = mergePrimary(scope, primary, edgeMergingAttributes, counters)
    val primaryIds = base.nodes.select("id")
    val secondaryParts = secondary.map(sg => connectedEdgeSubset(primaryIds, sg))

    val (edges, secEdgesMerged) =
      if (secondaryParts.isEmpty) (base.edges, 0L)
      else {
        val unioned = unionAll(MergeEngine.withOrdinal(base.edges +: secondaryParts.map(_._2)))
        val me = scope.cached(MergeEngine.mergeEdges(unioned, edgeMergingAttributes, counters))
        val n = me.agg(fsum("nMerged")).head().getLong(0)
        (MergeEngine.jsonToDf(me, Some(unioned.schema)), n)
      }
    val edgesOut =
      if (dontMerge.isEmpty) edges
      else unionAll(edges +: dontMerge.map(_.edges))

    val addedNodeFrames = secondaryParts.map(_._1) ++ dontMerge.map(_.nodes)
    val (nodes, extraNodesMerged) =
      if (addedNodeFrames.isEmpty) (base.nodes, 0L)
      else {
        val unioned = unionAll(MergeEngine.withOrdinal(base.nodes +: addedNodeFrames))
        val mn = scope.cached(MergeEngine.mergeNodes(unioned, counters))
        val n = mn.agg(fsum("nMerged")).head().getLong(0)
        (MergeEngine.jsonToDf(mn, Some(unioned.schema)), n)
      }
    MergedGraph(nodes, edgesOut,
      base.mergedNodeCount + extraNodesMerged,
      base.mergedEdgeCount + secEdgesMerged)(scope)
  }

  /** J5 — remove nodes not referenced by any edge
    * (ref orion/kgx_file_normalizer.py:419-439). */
  def removeUnconnectedNodes(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val referenced = edges
      .select(explode(array(col(Biolink.Subject), col(Biolink.Object_))).as("id"))
      .distinct()
    nodes.join(referenced, Seq("id"), "left_semi")
  }
}
