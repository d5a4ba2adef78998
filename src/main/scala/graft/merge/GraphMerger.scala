package graft.merge

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.{Lineage, Scope, Stats}
import graft.model.Biolink

/** Source-level merge strategies (SURVEY §2.5 A4-A8, §2.4 J4).
  * Reference: orion/kgx_file_merger.py:37-213.
  */
object GraphMerger {

  final case class SourceGraph(sourceId: String, nodes: DataFrame, edges: DataFrame,
                               mergeStrategy: String = "default")

  /** Result of a merge. `nodes`/`edges` are cached in `caches`: the first
    * action over them (the bundle write) materializes each once, and
    * every later consumer (QC, schema, derived graphs) reuses the cache
    * instead of re-running the merge aggregation. The merge counts ride
    * that first action; read them after it. The caches are LRU-evictable
    * under memory pressure; long-lived sessions doing many builds should
    * call [[release]] once a graph is fully consumed. */
  final case class MergedGraph(nodes: DataFrame, edges: DataFrame)(
      nodeMerges: Seq[Stats], edgeMerges: Seq[Stats], caches: Scope) {
    /** Node rows merged away into another row with the same id. */
    def mergedNodeCount: Long = nodeMerges.map(_.long("n")).sum
    /** Edge rows merged away into another row with the same key. */
    def mergedEdgeCount: Long = edgeMerges.map(_.long("n")).sum
    /** Free the merge's caches (recomputation after this re-runs the
      * merge aggregation). */
    def release(): Unit = caches.close()
  }

  /** `merged` as a typed frame over `schema`, observed for its
    * merged-away count. */
  private def observedMerge(merged: Dataset[MergeEngine.MergedEntity],
                            schema: org.apache.spark.sql.types.StructType,
                            what: String): (DataFrame, Stats) = {
    val (observed, merges) = Stats.observe(merged, s"merge: $what merged count")(
      sum(col("nMerged")).as("n"))
    (MergeEngine.jsonToDf(observed, Some(schema)), merges)
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
    * merged (nodes, edges) are lazy; [[mergeGraph]] caches what it reads
    * twice. */
  private def mergePrimary(sources: Seq[SourceGraph], edgeMergingAttributes: Seq[String],
                           counters: Option[MergeEngine.MergeCounters])
      : ((DataFrame, Stats), (DataFrame, Stats)) = {
    val nodes = unionAll(MergeEngine.withOrdinal(sources.map(_.nodes)))
    val edges = unionAll(MergeEngine.withOrdinal(sources.map(_.edges)))
    (observedMerge(MergeEngine.mergeNodes(nodes, counters), nodes.schema, "node"),
      observedMerge(MergeEngine.mergeEdges(edges, edgeMergingAttributes, counters),
        edges.schema, "edge"))
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
    *    reference's merge metadata records per-source counts).
    * Nothing runs here: the first action over the returned frames fills
    * their caches. */
  def mergeGraph(primary: Seq[SourceGraph],
                 secondary: Seq[SourceGraph] = Nil,
                 dontMerge: Seq[SourceGraph] = Nil,
                 edgeMergingAttributes: Seq[String] = Nil,
                 counters: Option[MergeEngine.MergeCounters] = None): MergedGraph = Lineage.owned { scope =>
    val ((mergedNodes, nodeMerges), (mergedEdges, edgeMerges)) =
      mergePrimary(primary, edgeMergingAttributes, counters)
    // the connected-edge-subset joins read the primary nodes, and so does
    // the node merge below
    val primaryNodes = if (secondary.isEmpty) mergedNodes else scope.cached(mergedNodes)
    val primaryIds = primaryNodes.select("id")
    val secondaryParts = secondary.map(sg => connectedEdgeSubset(primaryIds, sg))

    val (edges, secEdgeMerges) =
      if (secondaryParts.isEmpty) (mergedEdges, Nil)
      else {
        val unioned = unionAll(MergeEngine.withOrdinal(mergedEdges +: secondaryParts.map(_._2)))
        val (me, merges) = observedMerge(
          MergeEngine.mergeEdges(unioned, edgeMergingAttributes, counters), unioned.schema, "edge")
        (me, Seq(merges))
      }
    val edgesOut =
      if (dontMerge.isEmpty) edges
      else unionAll(edges +: dontMerge.map(_.edges))

    val addedNodeFrames = secondaryParts.map(_._1) ++ dontMerge.map(_.nodes)
    val (nodes, extraNodeMerges) =
      if (addedNodeFrames.isEmpty) (primaryNodes, Nil)
      else {
        val unioned = unionAll(MergeEngine.withOrdinal(primaryNodes +: addedNodeFrames))
        val (mn, merges) = observedMerge(MergeEngine.mergeNodes(unioned, counters), unioned.schema, "node")
        (mn, Seq(merges))
      }
    MergedGraph(scope.cached(nodes), scope.cached(edgesOut))(nodeMerges +: extraNodeMerges,
      edgeMerges +: secEdgeMerges, scope)
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
