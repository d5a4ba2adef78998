package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
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

  /** Label the Spark jobs a phase launches (guide §1.5): thread-local, so
    * the UI and QueryTimer's job table can attribute multi-action
    * pipelines per phase. */
  private def labeled[T](spark: SparkSession, desc: String)(f: => T): T = {
    spark.sparkContext.setJobDescription(desc)
    try f finally spark.sparkContext.setJobDescription(null)
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
    val stages = scala.collection.mutable.ArrayBuffer[StageResult]()
    // normalization caches to drop once the content-versioned parquet exists
    val releases = scala.collection.mutable.ArrayBuffer[() => Unit]()
    val (rawNodes, rawEdges) = loader.parse(spark)
    // The parse result is consumed several times below (stage-memo counts,
    // normalization's own pre/post/failure counts, the parquet write) —
    // without a persist each consumer RE-RUNS the parse, and raw sources
    // are the expensive kind (non-splittable archives, gz text, XML). One
    // scan fills the cache; MEMORY_AND_DISK spills rather than evicting,
    // so the shape holds for sources larger than executor memory. Released
    // after the content-versioned parquet is written (the read-back serves
    // every later consumer).
    rawNodes.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rawEdges.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    labeled(spark, s"ingest ${loader.sourceId}: parse + count") {
      stages += StageResult("parsing", Stable.name,
        s"nodes=${rawNodes.count()} edges=${rawEdges.count()}")
    }

    val (nodes, edges) = loader.nodeNormMap(spark) match {
      case Some(nm) => labeled(spark, s"ingest ${loader.sourceId}: normalize") {
        val pm = loader.predicateNormMap(spark)
          .getOrElse(Normalizer.predicateMapDf(spark, Nil))
        // cached variants: stats + the downstream consumers (unconnected
        // filter, parquet writes) share ONE materialization of each
        // normalization pipeline instead of re-running the joins per
        // action; released in the finally once the parquet is on disk
        val (nNodes, nodeStats, relN) =
          Normalizer.normalizeNodesCached(rawNodes, nm, loader.strictNormalization)
        releases += relN
        // lenient mode: failed nodes are KEPT, so edges referencing them
        // must survive on the original ids — the reference's lookup maps
        // a failed id to itself (orion/normalization.py:299-301)
        val edgeMap =
          if (loader.strictNormalization) nm
          else Normalizer.lenientEdgeMap(rawNodes, nm)
        val (nEdges, edgeStats, relE) = Normalizer.normalizeEdgesCached(rawEdges, edgeMap, pm,
          s"infores:${loader.sourceId.toLowerCase}")
        releases += relE
        val finalNodes =
          if (loader.removeUnconnected) GraphMerger.removeUnconnectedNodes(nNodes, nEdges)
          else nNodes
        stages += StageResult("normalization", Stable.name,
          s"nodes=${nodeStats.postNorm} failures=${nodeStats.failures} " +
          s"edges=${edgeStats.normalizedEdges} splits=${edgeStats.edgeSplits} " +
          s"failed_edges=${edgeStats.edgesFailedDueToNodes} loops=${edgeStats.subclassLoopsRemoved}")
        supplement(spark, loader, finalNodes, nEdges, Some((nm, pm)), stages)
      }
      case None =>
        stages += StageResult("normalization", Stable.name, "pre-normalized")
        supplement(spark, loader, rawNodes, rawEdges, None, stages)
    }

    val buildVersion = buildVersion0
    // materialize under the content-versioned dir + completion marker
    val outDir = s"$storageDir/${loader.sourceId}/$buildVersion"
    labeled(spark, s"ingest ${loader.sourceId}: versioned parquet") {
      nodes.write.mode("overwrite").parquet(s"$outDir/nodes.parquet")
      edges.write.mode("overwrite").parquet(s"$outDir/edges.parquet")
    }
    writeMeta(outDir, loader.sourceId, buildVersion, stages.toSeq)
    Files.writeString(Paths.get(outDir, "_BUILD_COMPLETE"), buildVersion)
    val outNodes = spark.read.parquet(s"$outDir/nodes.parquet")
    val outEdges = spark.read.parquet(s"$outDir/edges.parquet")
    IngestResult(loader.sourceId, buildVersion, outNodes, outEdges, stages.toSeq)
    } finally {
      rawNodes.unpersist(); rawEdges.unpersist(); releases.foreach(_.apply())
    }
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
  private def supplement(spark: SparkSession, loader: SourceLoader,
                         nodes: DataFrame, edges: DataFrame,
                         maps: Option[(DataFrame, DataFrame)],
                         stages: scala.collection.mutable.ArrayBuffer[StageResult])
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions._
    import graft.sources.Vcf
    if (!loader.hasSequenceVariants) {
      stages += StageResult("supplementation", Stable.name, "not needed")
      (nodes, edges)
    } else {
      // localCheckpoint the narrow VCF projection: breaks the lineage back
      // to the node map (the supp normalization joins that map again — a
      // self-join otherwise) and keeps only variant rows in memory
      val vcf = Vcf.variantNodesToVcf(nodes).localCheckpoint()
      val annotated = loader.snpEff(vcf)
      val (suppNodesRaw, suppEdgesRaw) = Vcf.annotatedVcfToKgx(annotated)
      val (suppNodes, suppEdges, detail) = maps match {
        case Some((nm, pm)) =>
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
          val baseMap =
            if (loader.strictNormalization) nm.select(col("orig_id"), col("norm_id"))
            else Normalizer.lenientEdgeMap(suppNodesRaw, nm)
          val edgeMap = baseMap.unionByName(subjectIdentity).distinct()
          val (se, seStats) = Normalizer.normalizeEdges(suppEdgesRaw, edgeMap, pm,
            Vcf.snpEffProvenance)
          (sn, se,
            s"supp_nodes=${snStats.postNorm} supp_node_failures=${snStats.failures} " +
            s"supp_edges=${seStats.normalizedEdges} supp_failed_edges=${seStats.edgesFailedDueToNodes}")
        case None =>
          (suppNodesRaw, suppEdgesRaw,
            s"supp_nodes=${suppNodesRaw.count()} supp_edges=${suppEdgesRaw.count()} (unnormalized)")
      }
      stages += StageResult("supplementation", Stable.name, detail)
      (nodes.unionByName(suppNodes, allowMissingColumns = true),
        edges.unionByName(suppEdges, allowMissingColumns = true))
    }
  }

  /** O2 — build a graph from a spec: run every source, group by merge
    * strategy, merge, finalize the bundle. */
  def buildGraph(spark: SparkSession, spec: GraphSpec,
                 loaders: Map[String, SourceLoader],
                 outDir: String): GraphBundle.BundleResult = {
    val ingested = spec.sources.map { s =>
      val loader = loaders.getOrElse(s.id,
        throw new IllegalArgumentException(s"no loader for source ${s.id}"))
      s -> runSource(spark, loader, s"$outDir/sources")
    }
    def graphs(strategy: String) = ingested.collect {
      case (s, r) if s.mergeStrategy == strategy =>
        GraphMerger.SourceGraph(r.sourceId, r.nodes, r.edges, s.mergeStrategy)
    }
    val counters = Some(MergeEngine.counters(spark))
    val merged = labeled(spark, s"merge ${spec.graphId}") {
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
