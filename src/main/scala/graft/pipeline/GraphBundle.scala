package graft.pipeline

import org.apache.spark.sql.DataFrame
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.io.KgxIO
import graft.Lineage
import graft.derive.BundleStats
import java.nio.file.{Files, Paths}

/** Bundle finalize (SURVEY §2.2 K5, §3.1 merge_and_finalize tail):
  * nodes/edges jsonl.gz + graph-metadata.json + qc-results.json +
  * schema.json sidecars (refs orion/kgx_bundle.py:14-56,
  * orion/graph_pipeline.py:445-532, orion/kgx_metadata.py:449-469).
  * Sidecars are driver-side serializations of small aggregate results;
  * the heavy writes stay distributed.
  */
object GraphBundle {
  private val mapper = new ObjectMapper()

  final case class BundleResult(
      path: String, nodeCount: Long, edgeCount: Long, buildVersion: String)

  private def writeJson(path: java.nio.file.Path, node: ObjectNode): Unit =
    Files.writeString(path, node.toPrettyString)

  /** Write the bundle of `nodes` and `edges` under `outDir`. Precondition:
    * node ids are unique, as in a [[graft.merge.GraphMerger.mergeGraph]]
    * result; the rows are written as given. */
  def finalizeBundle(spec: GraphSpec, nodes: DataFrame, edges: DataFrame,
                     outDir: String): BundleResult = Lineage.scoped { scope =>
    val dir = Paths.get(outDir)
    Files.createDirectories(dir)

    // The finalize tail consumes each frame several times (jsonl write and
    // the statistics aggregation); without a cache every consumer re-runs
    // the frame's plan per action. One materialization serves them all; a
    // merge result arrives cached and is reused as it is.
    scope.cached(nodes)
    scope.cached(edges)
    val sc = nodes.sparkSession.sparkContext
    // guide §1.5: attribute the finalize phases
    def labeled[T](desc: String)(f: => T): T = Lineage.labeled(sc, desc)(f)
    // bundle files (directory-of-parts layout; the scalable form of K1/K2),
    // each written straight from its cache. Node ids are unique, as in a
    // merge result (BundleStats' precondition too), so no dedup runs here.
    labeled("bundle: nodes.jsonl")(KgxIO.writeJsonl(nodes, s"$outDir/nodes.jsonl"))
    labeled("bundle: edges.jsonl")(KgxIO.writeJsonl(edges, s"$outDir/edges.jsonl"))

    // QC and the published schema.json (ref kgx_metadata.py:230-447) from
    // one node and one edge aggregation over the caches the writes filled.
    // perfbench's kg_build attributes jobs labelled "bundle: qc…" to its
    // derive layer.
    val (qc, schema) = labeled("bundle: qc + schema.json")(BundleStats(nodes, edges))
    writeJson(dir.resolve("schema.json"), schema)

    val srcVersions = spec.sources.map(s => Versioning.sourceBuildVersion(
      s.id, s.sourceVersion.getOrElse("latest"),
      s.parsingVersion.getOrElse("1.0"), s.normalizationVersion.getOrElse("1.0")))
    val buildVersion = Versioning.graphBuildVersion(srcVersions)

    // graph-metadata.json (DCAT-ish, ref graph_pipeline.py:445-532)
    val meta = mapper.createObjectNode()
    meta.put("graph_id", spec.graphId)
    meta.put("graph_name", spec.graphName)
    meta.put("build_version", buildVersion)
    meta.put("node_count", qc.nodeCount)
    meta.put("edge_count", qc.edgeCount)
    val srcArr = meta.putArray("sources")
    spec.sources.zip(srcVersions).foreach { case (s, v) =>
      val sn = srcArr.addObject()
      sn.put("id", s.id); sn.put("build_version", v)
      sn.put("merge_strategy", s.mergeStrategy)
    }
    writeJson(dir.resolve("graph-metadata.json"), meta)

    // qc-results.json (ref kgx_validation.py:25-213)
    val qcNode = mapper.createObjectNode()
    qcNode.put("node_count", qc.nodeCount)
    qcNode.put("edge_count", qc.edgeCount)
    qcNode.put("edges_missing_nodes", qc.edgesMissingNodes)
    val tc = qcNode.putObject("node_type_counts")
    qc.nodeTypeCounts.toSeq.sortBy(_._1).foreach { case (k, v) => tc.put(k, v) }
    val pc = qcNode.putObject("predicate_counts")
    qc.predicateCounts.toSeq.sortBy(_._1).foreach { case (k, v) => pc.put(k, v) }
    val kc = qcNode.putObject("primary_knowledge_source_counts")
    qc.primaryKsCounts.toSeq.sortBy(_._1).foreach { case (k, v) => kc.put(k, v) }
    val invalidTypesArr = qcNode.putArray("invalid_node_types")
    qc.invalidNodeTypes.foreach(invalidTypesArr.add)
    val deprecatedKsArr = qcNode.putArray("deprecated_knowledge_sources")
    qc.deprecatedKnowledgeSources.foreach(deprecatedKsArr.add)
    val invalidKsArr = qcNode.putArray("invalid_knowledge_sources")
    qc.invalidKnowledgeSources.foreach(invalidKsArr.add)
    val warn = qcNode.putArray("warnings")
    qc.warnings.foreach(warn.add)
    writeJson(dir.resolve("qc-results.json"), qcNode)

    BundleResult(outDir, qc.nodeCount, qc.edgeCount, buildVersion)
  }

  /** O5 — publish: promote a build-version directory to a release-version
    * directory via staging + atomic rename (ref orion/cli/publish_graphs.py:
    * 30-90). The staging copy means a crashed publish never leaves a
    * half-visible release. */
  def publish(buildDir: String, releaseDir: String): Unit = {
    val src = Paths.get(buildDir)
    require(Files.exists(src), s"build dir missing: $buildDir")
    val release = Paths.get(releaseDir)
    val staging = Paths.get(releaseDir + ".staging")
    if (Files.exists(staging)) deleteRecursively(staging)
    copyRecursively(src, staging)
    if (Files.exists(release)) deleteRecursively(release)
    Files.move(staging, release,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def copyRecursively(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    Files.walk(from).iterator().asScala.foreach { p =>
      val dest = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(dest)
      else Files.copy(p, dest, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }
}
