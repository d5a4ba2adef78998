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
      nodeMerges: Stats, edgeMerges: Stats, caches: Scope) {
    /** Node rows merged away into another row with the same id. */
    def mergedNodeCount: Long = nodeMerges.long("n")
    /** Edge rows merged away into another row with the same key. */
    def mergedEdgeCount: Long = edgeMerges.long("n")
    /** Free the merge's caches (recomputation after this re-runs the
      * merge aggregation). */
    def release(): Unit = caches.close()
  }

  /** `frames` unioned in source order, ordinal-tagged and merged by
    * `merge`, as a typed frame observed for its merged-away count. */
  private def observedMerge(frames: Seq[DataFrame], what: String)(
      merge: DataFrame => Dataset[MergeEngine.MergedEntity]): (DataFrame, Stats) = {
    val unioned = unionAll(MergeEngine.withOrdinal(frames))
    val (observed, merges) = Stats.observe(merge(unioned), s"merge: $what merged count")(
      sum(col("nMerged")).as("n"))
    (MergeEngine.jsonToDf(observed, Some(unioned.schema)), merges)
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

  /** U1+A1-A3, J4, A8 — merge a build's sources: primaries, then
    * connected_edge_subset sources, then dont_merge sources (ref
    * orion/kgx_file_merger.py:129-172). Nodes and edges each go through
    * ONE union, ordinal-tagged in that source order, and one property
    * merge: nodes by id, edges by composite key. PropertyMerge.mergeAll
    * is a left fold, so this equals the reference's merger, which folds
    * each source into the result of the ones before it.
    *
    * Fidelity details, each matching the reference:
    *  - The primary node-id set is FROZEN before any secondary source is
    *    processed (ref kgx_file_merger.py:129-137 computes
    *    `primary_node_ids` once): it is the primaries' own ids, so a
    *    later connected_edge_subset source does NOT keep edges merely for
    *    touching an earlier secondary's backfill nodes.
    *  - Kept secondary edges join the edge property merge (ref
    *    kgx_file_merger.py:148-150 calls `edge_graph_merger.merge_edge`),
    *    so a secondary edge sharing its composite key with a primary edge
    *    is merged, not duplicated. Only dont_merge edges append verbatim,
    *    without KgxIO's `_file_rank` helper column.
    *  - Backfill and dont_merge nodes join the node merge: the same
    *    first-truthy-wins fold the primaries get, not dropDuplicates("id"),
    *    which keeps an ARBITRARY row per id and unions no properties.
    *  - A column that any source holds as a list is a list for every
    *    source ([[unionAll]] sees all of them at once).
    *  - The merge counts total every source's merged-away rows (the
    *    reference's merge metadata records per-source counts).
    * Nothing runs here: the first action over the returned frames fills
    * their caches. */
  def mergeGraph(primary: Seq[SourceGraph],
                 secondary: Seq[SourceGraph] = Nil,
                 dontMerge: Seq[SourceGraph] = Nil,
                 edgeMergingAttributes: Seq[String] = Nil,
                 counters: Option[MergeEngine.MergeCounters] = None): MergedGraph = Lineage.owned { scope =>
    val primaryIds = primary.map(_.nodes.select("id")).reduce(_.unionByName(_))
    val secondaryParts = secondary.map(sg => connectedEdgeSubset(primaryIds, sg))
    val (nodes, nodeMerges) = observedMerge(
      primary.map(_.nodes) ++ secondaryParts.map(_._1) ++ dontMerge.map(_.nodes), "node")(
      MergeEngine.mergeNodes(_, counters))
    val (edges, edgeMerges) = observedMerge(primary.map(_.edges) ++ secondaryParts.map(_._2), "edge")(
      MergeEngine.mergeEdges(_, edgeMergingAttributes, counters))
    val edgesOut =
      if (dontMerge.isEmpty) edges
      else unionAll(edges +: dontMerge.map(_.edges.drop("_file_rank")))
    MergedGraph(scope.cached(nodes), scope.cached(edgesOut))(nodeMerges, edgeMerges, scope)
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
