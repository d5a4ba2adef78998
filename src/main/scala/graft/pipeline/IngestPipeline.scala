package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
import graft.{Lineage, Stats}
import graft.merge.{GraphMerger, MergeEngine}
import graft.normalize.Normalizer

/** Per-source ingest pipeline + graph build orchestration (SURVEY §2.9
  * O1-O3, §3.1-§3.2). Reference: orion/ingest_pipeline.py:54-105 (stage
  * state machine), orion/graph_pipeline.py:50-414 (build + dependency
  * resolution), orion/metadata.py:8-14 (statuses).
  *
  * Driver-side Scala: deterministic, no Spark needed for the control plane.
  * Stage results are memoized in a `<source>.meta.json` sidecar under a
  * content-versioned directory scheme, so re-runs skip stable stages —
  * the reference's build-cache property.
  */
object IngestPipeline {

  sealed trait StageStatus { def name: String }
  case object NotStarted extends StageStatus { val name = "not_started" }
  case object Stable extends StageStatus { val name = "stable" }
  case object InProgress extends StageStatus { val name = "in_progress" }
  case object Broken extends StageStatus { val name = "broken" }
  case object Failed extends StageStatus { val name = "failed" }

  private val mapper = new ObjectMapper()

  /** A pluggable source: how to fetch+parse one upstream into (nodes,
    * edges). In production `parse` reads downloaded artifacts; in tests it
    * reads fixtures. */
  trait SourceLoader {
    def sourceId: String
    def sourceVersion: String = "fixture"
    def parsingVersion: String = "1.0"
    def parse(spark: SparkSession): (DataFrame, DataFrame)
    /** Normalization maps for this source (fixture-backed by default —
      * SURVEY §7.1: hermetic normalizer). */
    def nodeNormMap(spark: SparkSession): Option[DataFrame] = None
    def predicateNormMap(spark: SparkSession): Option[DataFrame] = None
    /** Whether normalization applies — part of the memo key, overridable
      * when computing nodeNormMap is expensive. */
    def nodeNormMapDefined: Boolean = true
    def strictNormalization: Boolean = true
    def removeUnconnected: Boolean = true
    /** D5 routing flag (ref orion/ingest_pipeline.py:436): sources whose
      * nodes include sequence variants get the supplementation stage. */
    def hasSequenceVariants: Boolean = false
    /** The SnpEff subprocess seam (ref orion/supplementation.py:135-154):
      * VCF frame in, annotated VCF frame out. Production overrides this to
      * shell out to snpEff.jar; the default deterministic stub keeps the
      * surrounding pipeline testable in-sandbox. */
    def snpEff: DataFrame => DataFrame = graft.sources.Vcf.runSnpEffStub
  }

  final case class StageResult(stage: String, status: String, detail: String)
  final case class IngestResult(sourceId: String, buildVersion: String,
                                nodes: DataFrame, edges: DataFrame,
                                stages: Seq[StageResult])

  private def writeMeta(dir: String, sourceId: String, buildVersion: String,
                        stages: Seq[StageResult]): Unit = {
    val meta = mapper.createObjectNode()
    meta.put("source_id", sourceId)
    meta.put("build_version", buildVersion)
    val arr = meta.putArray("stages")
    stages.foreach { s =>
      val o = arr.addObject()
      o.put("stage", s.stage); o.put("status", s.status); o.put("detail", s.detail)
    }
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, s"$sourceId.meta.json"), meta.toPrettyString)
  }

  /** Expected content-hash build version for a loader (pure — computable
    * before any work runs; the memoization key, ref orion/metadata.py:228-239). */
  def expectedBuildVersion(loader: SourceLoader): String =
    Versioning.sourceBuildVersion(
      loader.sourceId, loader.sourceVersion, loader.parsingVersion,
      if (loader.nodeNormMapDefined) "1.0" else "none")

  /** O1 — run one source through parse → normalize → (QC counts), writing
    * the stage memo sidecar and materializing the result under a
    * content-versioned directory. If that directory already holds a
    * complete build for the same version, every stage is SKIPPED and the
    * parquet is read back — the reference's build-cache property
    * (orion/ingest_pipeline.py:107-181 status memo). */
  def runSource(spark: SparkSession, loader: SourceLoader,
                storageDir: String): IngestResult = {
    val buildVersion0 = expectedBuildVersion(loader)
    val versionDir = s"$storageDir/${loader.sourceId}/$buildVersion0"
    val donePath = Paths.get(versionDir, "_BUILD_COMPLETE")
    if (Files.exists(donePath)) {
      val nodes = spark.read.parquet(s"$versionDir/nodes.parquet")
      val edges = spark.read.parquet(s"$versionDir/edges.parquet")
      return IngestResult(loader.sourceId, buildVersion0, nodes, edges,
        Seq(StageResult("cached", Stable.name, s"reused $versionDir")))
    }
    // Every cache below is released once the content-versioned parquet is
    // written (the read-back serves every later consumer).
    Lineage.scoped { scope =>
    // the label also covers the readers' schema inference
    val (parsedNodes, parsedEdges) =
      Lineage.labeled(spark.sparkContext, s"ingest ${loader.sourceId}: parse + count")(loader.parse(spark))
    val nodeMap = loader.nodeNormMap(spark)
    // The raw counts are observed on the parse and ride the first action
    // over it. Lenient normalization reads the raw nodes twice (the node
    // join and the edge map's identity entries): without a cache each read
    // RE-RUNS the parse, and raw sources are the expensive kind
    // (non-splittable archives, gz text, XML). One scan fills the cache;
    // the default MEMORY_AND_DISK level spills rather than evicting, so
    // the shape holds for sources larger than executor memory. Strict
    // normalization and every other raw frame have one reader and no cache.
    val (rawNodes, rawNodeCount) = Stats.observe(parsedNodes,
      s"ingest ${loader.sourceId}: raw node count")(count(lit(1)).as("n"))
    val (rawEdges, rawEdgeCount) = Stats.observe(parsedEdges,
      s"ingest ${loader.sourceId}: raw edge count")(count(lit(1)).as("n"))
    if (nodeMap.isDefined && !loader.strictNormalization) scope.cached(rawNodes)

    val ((nodes, edges, supplementation), normalization) = nodeMap match {
      case Some(nm) => Lineage.labeled(spark.sparkContext, s"ingest ${loader.sourceId}: normalize") {
        val pm = loader.predicateNormMap(spark)
          .getOrElse(Normalizer.predicateMapDf(spark, Nil))
        // the observed node counts ride the parquet write, the one action
        // over the normalized nodes; the edge joins are cached for their
        // stats action and both writes
        val (nNodes, nodeStats) =
          Normalizer.normalizeNodes(rawNodes, nm, loader.strictNormalization)
        val edgeMap = Normalizer.edgeMap(rawNodes, nm, loader.strictNormalization)
        val (nEdges, edgeStats) = Normalizer.normalizeEdgesCached(scope, rawEdges, edgeMap, pm,
          s"infores:${loader.sourceId.toLowerCase}")
        val finalNodes =
          if (loader.removeUnconnected) GraphMerger.removeUnconnectedNodes(nNodes, nEdges)
          else nNodes
        (supplement(scope, loader, finalNodes, nEdges, Some((nm, pm))), () => {
          val ns = nodeStats()
          s"nodes=${ns.postNorm} failures=${ns.failures} " +
            s"edges=${edgeStats.normalizedEdges} splits=${edgeStats.edgeSplits} " +
            s"failed_edges=${edgeStats.edgesFailedDueToNodes} loops=${edgeStats.subclassLoopsRemoved}"
        })
      }
      case None =>
        (supplement(scope, loader, rawNodes, rawEdges, None), () => "pre-normalized")
    }

    val buildVersion = buildVersion0
    // materialize under the content-versioned dir + completion marker
    val outDir = s"$storageDir/${loader.sourceId}/$buildVersion"
    Lineage.labeled(spark.sparkContext, s"ingest ${loader.sourceId}: versioned parquet") {
      nodes.write.mode("overwrite").parquet(s"$outDir/nodes.parquet")
      edges.write.mode("overwrite").parquet(s"$outDir/edges.parquet")
    }
    // the writes above reported every deferred stat
    val stages = Seq(
      StageResult("parsing", Stable.name,
        s"nodes=${rawNodeCount.long("n")} edges=${rawEdgeCount.long("n")}"),
      StageResult("normalization", Stable.name, normalization()),
      StageResult("supplementation", Stable.name, supplementation()))
    writeMeta(outDir, loader.sourceId, buildVersion, stages)
    Files.writeString(Paths.get(outDir, "_BUILD_COMPLETE"), buildVersion)
    // read back with the schema just written (parquet makes every field
    // nullable), which spares a footer-reading job per frame
    val outNodes = spark.read.schema(nullable(nodes.schema)).parquet(s"$outDir/nodes.parquet")
    val outEdges = spark.read.schema(nullable(edges.schema)).parquet(s"$outDir/edges.parquet")
    IngestResult(loader.sourceId, buildVersion, outNodes, outEdges, stages)
    }
  }

  /** `schema` as a parquet file written from it reads back: every field,
    * array element and map value nullable. */
  private def nullable(schema: StructType): StructType = {
    def of(t: DataType): DataType = t match {
      case s: StructType => nullable(s)
      case a: ArrayType => ArrayType(of(a.elementType), containsNull = true)
      case m: MapType => MapType(of(m.keyType), of(m.valueType), valueContainsNull = true)
      case other => other
    }
    StructType(schema.fields.map(f => f.copy(dataType = of(f.dataType), nullable = true)))
  }

  /** D5 — sequence-variant supplementation stage
    * (ref orion/ingest_pipeline.py:382-485, orion/supplementation.py:92-138):
    * normalized variant nodes → VCF → SnpEff seam → ANN parse →
    * normalize-supplemental → union into the source's graph. Routed by
    * `hasSequenceVariants`; sources without the flag record the stage as
    * stable/not-needed (the reference's `supplementation_info = None`
    * path). Supplemental edge subjects are the already-normalized variant
    * ids (edge_subject_pre_normalized in the reference), expressed here as
    * identity rows appended to the node map before edge normalization. */
  private def supplement(scope: graft.Scope, loader: SourceLoader,
                         nodes: DataFrame, edges: DataFrame,
                         maps: Option[(DataFrame, DataFrame)])
      : (DataFrame, DataFrame, () => String) = {
    import graft.sources.Vcf
    if (!loader.hasSequenceVariants) (nodes, edges, () => "not needed")
    else {
      // the VCF projection and the union below both read the nodes
      scope.cached(nodes)
      // localCheckpoint the narrow VCF projection: breaks the lineage back
      // to the node map (the supp normalization joins that map again — a
      // self-join otherwise) and keeps only variant rows in memory
      val vcf = Vcf.variantNodesToVcf(nodes).localCheckpoint()
      val annotated = loader.snpEff(vcf)
      val (suppNodesRaw, suppEdgesRaw) = Vcf.annotatedVcfToKgx(annotated)
      val (suppNodes, suppEdges, detail) = maps match {
        case Some((nm, pm)) =>
          // normalized like the main path: the node stats ride the parquet
          // write, and the edge joins stay cached in the source's scope
          // until that write has run
          val (sn, snStats) = Normalizer.normalizeNodes(suppNodesRaw, nm, loader.strictNormalization)
          val subjectIdentity = suppEdgesRaw
            .select(col(graft.model.Biolink.Subject).as("orig_id")).distinct()
            .withColumn("norm_id", col("orig_id"))
          // lenient mode keeps failed SUPPLEMENTAL nodes too, so their
          // edges need the same identity entries as the main path —
          // otherwise a supp edge whose OBJECT missed the map drops while
          // its lenient-retained node dangles. distinct() because the
          // subject identities can coincide with lenient identity rows
          // (both map an id to itself) and a duplicate map row would
          // duplicate every edge it joins.
          val edgeMap = Normalizer.edgeMap(suppNodesRaw, nm, loader.strictNormalization)
            .unionByName(subjectIdentity).distinct()
          val (se, seStats) = Normalizer.normalizeEdgesCached(scope, suppEdgesRaw, edgeMap, pm,
            Vcf.snpEffProvenance)
          (sn, se, () => {
            val ns = snStats()
            s"supp_nodes=${ns.postNorm} supp_node_failures=${ns.failures} " +
              s"supp_edges=${seStats.normalizedEdges} supp_failed_edges=${seStats.edgesFailedDueToNodes}"
          })
        case None =>
          // the counts ride the parquet write of the unioned frames
          def observed(df: DataFrame, what: String) =
            Stats.observe(df, s"ingest ${loader.sourceId}: $what count")(count(lit(1)).as("n"))
          val (sn, snCount) = observed(suppNodesRaw, "supplemental node")
          val (se, seCount) = observed(suppEdgesRaw, "supplemental edge")
          (sn, se, () =>
            s"supp_nodes=${snCount.long("n")} supp_edges=${seCount.long("n")} (unnormalized)")
      }
      (nodes.unionByName(suppNodes, allowMissingColumns = true),
        edges.unionByName(suppEdges, allowMissingColumns = true), detail)
    }
  }

  /** O2 — build a graph from a spec: run every source, group by merge
    * strategy, merge, finalize the bundle. The sources share no frame, so
    * they run at once; their results are taken in spec order, which keeps
    * the merge and the bundle as a serial run makes them. Entries whose
    * loaders share a versioned directory (a source listed twice) run
    * once: a serial run reads the first build back for the others, and
    * two runs at once would write that directory together. */
  def buildGraph(spark: SparkSession, spec: GraphSpec,
                 loaders: Map[String, SourceLoader],
                 outDir: String): GraphBundle.BundleResult = {
    val sourceLoaders = spec.sources.map(s => s -> loaders.getOrElse(s.id,
      throw new IllegalArgumentException(s"no loader for source ${s.id}")))
    def versionDir(l: SourceLoader) = (l.sourceId, expectedBuildVersion(l))
    val runs = sourceLoaders.map(_._2).distinctBy(versionDir)
    val results = runs.map(versionDir).zip(Lineage.concurrently(
      runs.map(l => () => runSource(spark, l, s"$outDir/sources")))).toMap
    val ingested = sourceLoaders.map { case (s, l) => s -> results(versionDir(l)) }
    def graphs(strategy: String) = ingested.collect {
      case (s, r) if s.mergeStrategy == strategy =>
        GraphMerger.SourceGraph(r.sourceId, r.nodes, r.edges, s.mergeStrategy)
    }
    val counters = Some(MergeEngine.counters(spark))
    val merged = Lineage.labeled(spark.sparkContext, s"merge ${spec.graphId}") {
      GraphMerger.mergeGraph(
        primary = graphs("default"),
        secondary = graphs("connected_edge_subset"),
        dontMerge = graphs("dont_merge"),
        edgeMergingAttributes = spec.edgeMergingAttributes,
        counters = counters)
    }
    try GraphBundle.finalizeBundle(spec, merged.nodes, merged.edges, outDir)
    finally merged.release() // bundle written — drop the merge caches
  }
}
