package perfbench

import java.io.{BufferedReader, BufferedWriter, InputStreamReader}
import java.nio.file.{Files, Path}
import java.util.zip.GZIPInputStream
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.io.KgxIO
import graft.merge.{GraphMerger, MergeEngine}
import graft.normalize.Normalizer
import graft.pipeline.{GraphBundle, GraphSource, GraphSpec, IngestPipeline}

/** ORION's own job: four generated KGX jsonl sources through
  * `IngestPipeline.buildGraph` into a gzip bundle with its sidecars.
  *
  * SRC_A and SRC_B are normalized primaries over overlapping concept
  * ranges. Their norm maps collapse cliques (CHEBI/MESH/UNII spellings of
  * one concept, sometimes two spellings in one source), their edges use an
  * inverted predicate (`treated_by` → `treats`) and a predicate the map
  * lacks (→ `related_to`), and some of their ids are missing from the map,
  * so strict normalization drops those nodes and edges. SRC_B restates
  * some SRC_A edges so the edge merge has work. SRC_C is
  * connected_edge_subset (kept edges, backfilled endpoints, some merged
  * into primary edges); SRC_D is dont_merge. The expected node and edge
  * counts come from a plain-collections model of those rules.
  *
  * Why: ORION's own job, with no graph or sim code, so it is the bypass
  * case for work on those. At this size it is bound by per-job driver
  * work, not data: measured on 4 cores, a pass runs 142 jobs, about 60% of
  * the layers' time has none of their tasks running, and the pass
  * shuffles 0.65 MB.
  */
final case class KgBuild(concepts: Int = 1000) extends Workload {
  val name = "kg_build"
  val layers = Seq("io.read", "normalize", "pipeline.persist", "merge", "io.write", "derive")

  private val Pks = "infores:perfbench"
  private val PksD = "infores:perfbench_dont_merge"
  private val RelatedTo = "biolink:related_to"
  private val UnmappedPred = "biolink:perfbench_unmapped"
  /** Predicate map: original → (normalized, inverted). */
  private val PredMap = Map(
    "biolink:affects" -> ("biolink:affects", false),
    "biolink:interacts_with" -> ("biolink:interacts_with", false),
    "biolink:treats" -> ("biolink:treats", false),
    "biolink:treated_by" -> ("biolink:treats", true),
    "biolink:causes" -> ("biolink:causes", false))
  private val PredWeights = Seq("biolink:affects" -> 30, "biolink:interacts_with" -> 25,
    "biolink:treats" -> 15, "biolink:treated_by" -> 15, "biolink:causes" -> 10, UnmappedPred -> 5)

  val spec: GraphSpec = GraphSpec("perfbench_kg", "perfbench KG", sources = Seq(
    GraphSource("SRC_A"), GraphSource("SRC_B"),
    GraphSource("SRC_C", mergeStrategy = "connected_edge_subset"),
    GraphSource("SRC_D", mergeStrategy = "dont_merge")))

  /** Job-description rules of `runSource` and `finalizeBundle`. */
  val RunSourceSplit = Splitter(Seq(": parse + count" -> "io.read", ": normalize" -> "normalize",
    ": versioned parquet" -> "pipeline.persist"), "pipeline.persist")
  val BundleSplit = Splitter(Seq("bundle: nodes.jsonl" -> "io.write", "bundle: edges.jsonl" -> "io.write",
    "bundle: qc" -> "derive", "bundle: schema.json" -> "derive"), "derive")

  final case class Edge(s: String, p: String, o: String, pks: String)
  final case class Source(id: String, nodes: IndexedSeq[String], edges: IndexedSeq[Edge],
                          norm: Option[Map[String, String]])
  final case class Expected(nodes: Long, edges: Long)

  private def pickPred(rnd: scala.util.Random): String = {
    var r = rnd.nextInt(PredWeights.map(_._2).sum)
    PredWeights.find { case (_, w) => r -= w; r < 0 }.get._1
  }

  private def normPred(p: String): (String, Boolean) = PredMap.getOrElse(p, (RelatedTo, false))

  /** A normalized primary over concepts [lo, hi). */
  private def primary(rnd: scala.util.Random, id: String, lo: Int, hi: Int): Source = {
    val nodes = mutable.ArrayBuffer[String]()
    val norm = mutable.HashMap[String, String]()
    for (k <- lo until hi if rnd.nextDouble() >= 0.1) {
      val forms = Seq(s"CHEBI:$k", s"MESH:$k", s"UNII:$k")
      val r = rnd.nextDouble()
      val first = if (r < 0.6) 0 else if (r < 0.8) 1 else 2
      val chosen = if (rnd.nextDouble() < 0.05) Seq(first, (first + 1) % 3) else Seq(first)
      chosen.foreach { f => nodes += forms(f); norm(forms(f)) = s"CHEBI:$k" }
    }
    for (i <- 0 until nodes.size / 20) nodes += s"UNMAPPED:$id:$i"
    val edges = (0 until nodes.size * 5 / 2).map { _ =>
      val a = rnd.nextInt(nodes.size)
      val b = (a + 1 + rnd.nextInt(nodes.size - 1)) % nodes.size
      Edge(nodes(a), pickPred(rnd), nodes(b), Pks)
    }
    Source(id, nodes.toIndexedSeq, edges, Some(norm.toMap))
  }

  /** Normalized edges of a source: endpoints through its map (edges with
    * an unmapped endpoint drop), predicate through the predicate map. */
  private def normEdges(s: Source): Seq[Edge] = {
    val m = s.norm.get
    s.edges.flatMap { e =>
      for (a <- m.get(e.s); b <- m.get(e.o)) yield {
        val (p, inv) = normPred(e.p)
        if (inv) Edge(b, p, a, e.pks) else Edge(a, p, b, e.pks)
      }
    }
  }

  /** Nodes a normalized source keeps: mapped (cliques collapse to one id)
    * and referenced by one of its normalized edges. */
  private def normNodes(s: Source, edges: Seq[Edge]): Set[String] = {
    val ends = edges.iterator.flatMap(e => Iterator(e.s, e.o)).toSet
    s.nodes.flatMap(s.norm.get.get).toSet.intersect(ends)
  }

  def sources(seed: Long): Seq[Source] = {
    val rnd = new scala.util.Random(seed)
    val a = primary(rnd, "SRC_A", 0, concepts * 6 / 10)
    val b0 = primary(rnd, "SRC_B", concepts * 4 / 10, concepts)
    // SRC_B restates a quarter of SRC_A's edges inside the overlap, in its
    // own spellings and sometimes in the inverted predicate form
    val bRaw = b0.nodes.filter(b0.norm.get.contains).groupBy(b0.norm.get).map { case (c, ids) => c -> ids.head }
    val restated = normEdges(a).filter(e => bRaw.contains(e.s) && bRaw.contains(e.o) && rnd.nextDouble() < 0.25)
      .map { e =>
        if (e.p == "biolink:treats" && rnd.nextBoolean()) Edge(bRaw(e.o), "biolink:treated_by", bRaw(e.s), Pks)
        else Edge(bRaw(e.s), if (e.p == RelatedTo) UnmappedPred else e.p, bRaw(e.o), Pks)
      }
    val b = b0.copy(edges = b0.edges ++ restated)
    // connected_edge_subset: chemical → phenotype edges (kept when the
    // chemical is in the primary graph, phenotypes backfilled), phenotype
    // pairs (never kept), and restated primary edges (merged)
    val hp = math.max(2, concepts / 5)
    val primaryEdges = normEdges(a) ++ normEdges(b)
    val cEdges = (0 until concepts / 2).map { _ =>
      val r = rnd.nextDouble()
      if (r < 0.6) Edge(s"CHEBI:${rnd.nextInt(concepts)}", "biolink:has_phenotype", s"HP:${rnd.nextInt(hp)}", Pks)
      else if (r < 0.8) Edge(s"HP:${rnd.nextInt(hp)}", RelatedTo, s"HP:${rnd.nextInt(hp)}", Pks)
      else primaryEdges(rnd.nextInt(primaryEdges.size))
    }
    val c = Source("SRC_C", cEdges.flatMap(e => Seq(e.s, e.o)).distinct, cEdges, None)
    // dont_merge: process → chemical edges appended verbatim; its chemical
    // nodes merge with the primary ones
    val go = math.max(2, concepts / 10)
    val dEdges = (0 until concepts / 6).map(_ =>
      Edge(s"GO:${rnd.nextInt(go)}", "biolink:affects", s"CHEBI:${rnd.nextInt(concepts)}", PksD))
    val d = Source("SRC_D", dEdges.flatMap(e => Seq(e.s, e.o)).distinct, dEdges, None)
    Seq(a, b, c, d)
  }

  /** Bundle counts by the drop, collapse, merge and backfill rules. */
  def expected(srcs: Seq[Source]): Expected = {
    val Seq(a, b, c, d) = srcs
    val (ea, eb) = (normEdges(a), normEdges(b))
    val primaryIds = normNodes(a, ea) ++ normNodes(b, eb)
    val kept = c.edges.filter(e => primaryIds(e.s) || primaryIds(e.o))
    val backfill = kept.flatMap(e => Seq(e.s, e.o)).toSet -- primaryIds
    val edgeKeys = (ea ++ eb ++ kept).toSet
    Expected((primaryIds ++ backfill ++ d.nodes).size, edgeKeys.size + d.edges.size)
  }

  private def category(id: String): String = id.takeWhile(_ != ':') match {
    case "HP" => "biolink:PhenotypicFeature"
    case "GO" => "biolink:BiologicalProcess"
    case _ => "biolink:ChemicalEntity"
  }

  private def write(path: Path)(f: BufferedWriter => Unit): Unit = {
    Files.createDirectories(path.getParent)
    val w = Files.newBufferedWriter(path)
    try f(w) finally w.close()
  }

  private def writeSource(dir: String, s: Source): Unit = {
    val base = Files2.path(dir, s.id)
    write(base.resolve("nodes.jsonl")) { w =>
      s.nodes.foreach(n => w.write(
        s"""{"id":"$n","name":"name of $n","category":["${category(n)}"]}""" + "\n"))
    }
    write(base.resolve("edges.jsonl")) { w =>
      s.edges.foreach(e => w.write(
        s"""{"subject":"${e.s}","predicate":"${e.p}","object":"${e.o}","primary_knowledge_source":"${e.pks}"}""" + "\n"))
    }
    s.norm.foreach { m =>
      write(base.resolve("norm.json")) { w =>
        w.write("{\n")
        w.write(m.toSeq.sorted.map { case (orig, n) =>
          s""""$orig":{"id":{"identifier":"$n","label":"label of $n"},""" +
            s""""type":["biolink:ChemicalEntity","biolink:NamedThing"],""" +
            s""""equivalent_identifiers":[{"identifier":"$n"},{"identifier":"$orig"}]}"""
        }.mkString(",\n"))
        w.write("\n}\n")
      }
    }
  }

  /** Reads its source's files on every call, like a production loader;
    * the norm and predicate maps go through the public snapshot loaders. */
  final class Loader(val sourceId: String, dir: String, normalized: Boolean)
      extends IngestPipeline.SourceLoader {
    def parse(spark: SparkSession): (DataFrame, DataFrame) =
      (KgxIO.readJsonl(spark, Seq(s"$dir/$sourceId/nodes.jsonl")),
        KgxIO.readJsonl(spark, Seq(s"$dir/$sourceId/edges.jsonl")))
    override def nodeNormMapDefined: Boolean = normalized
    override def nodeNormMap(spark: SparkSession): Option[DataFrame] =
      if (normalized) Some(Normalizer.nodeMapFromSnapshot(spark, s"$dir/$sourceId/norm.json")) else None
    override def predicateNormMap(spark: SparkSession): Option[DataFrame] =
      if (normalized) Some(Normalizer.predicateMapFromSnapshot(spark, s"$dir/predicates.json")) else None
  }

  def generate(spark: SparkSession, seed: Long, dir: String): Inputs = {
    val srcs = sources(seed)
    srcs.foreach(writeSource(dir, _))
    write(Files2.path(dir, "predicates.json")) { w =>
      w.write(PredMap.toSeq.sorted.map { case (p, (n, inv)) =>
        s""""$p":{"predicate":"$n","inverted":$inv}""" }.mkString("{\n", ",\n", "\n}\n"))
    }
    new KgInputs(dir, srcs.map(s => s.id -> (s.nodes.size.toLong + s.edges.size)).toMap, expected(srcs))
  }

  final class KgInputs(dir: String, sizes: Map[String, Long], val expected: Expected) extends Inputs {
    val rows: Long = sizes.values.sum
    val loaders: Map[String, IngestPipeline.SourceLoader] = spec.sources.map(s =>
      s.id -> new Loader(s.id, dir, normalized = s.mergeStrategy == "default")).toMap
    def release(): Unit = Files2.deleteRecursively(Files2.path(dir))

    def pass(ctx: Ctx): PassOut = {
      val out = s"${ctx.dir}/graph"
      val result =
        if (!ctx.traced) IngestPipeline.buildGraph(ctx.spark, spec, loaders, out)
        else composed(ctx, out)
      new KgOut(out, result, expected)
    }

    /** `buildGraph` made of its public calls, so each can be traced:
      * runSource per source, mergeGraph, finalizeBundle. */
    def composed(ctx: Ctx, out: String): GraphBundle.BundleResult = {
      val spark = ctx.spark
      val ingested = spec.sources.map { s =>
        s -> ctx.split("pipeline.runSource", RunSourceSplit) {
          IngestPipeline.runSource(spark, loaders(s.id), s"$out/sources")
        }
      }
      def graphs(strategy: String) = ingested.collect {
        case (s, r) if s.mergeStrategy == strategy =>
          GraphMerger.SourceGraph(r.sourceId, r.nodes, r.edges, s.mergeStrategy)
      }
      val merged = ctx.layer("merge") {
        spark.sparkContext.setJobDescription(s"merge ${spec.graphId}")
        try GraphMerger.mergeGraph(graphs("default"), graphs("connected_edge_subset"),
          graphs("dont_merge"), spec.edgeMergingAttributes, Some(MergeEngine.counters(spark)))
        finally spark.sparkContext.setJobDescription(null)
      }
      ctx.result(merged.nodes); ctx.result(merged.edges)
      ctx.split("pipeline.finalizeBundle", BundleSplit) {
        try GraphBundle.finalizeBundle(spec, merged.nodes, merged.edges, out)
        finally merged.release()
      }
    }
  }

  private def countLines(dir: Path): Long = {
    val s = Files.list(dir)
    val parts = try s.iterator().asScala.filter(_.getFileName.toString.startsWith("part-")).toSeq finally s.close()
    parts.map { p =>
      val r = new BufferedReader(new InputStreamReader(new GZIPInputStream(Files.newInputStream(p))))
      try Iterator.continually(r.readLine()).takeWhile(_ != null).count(_.nonEmpty).toLong finally r.close()
    }.sum
  }

  final class KgOut(out: String, result: GraphBundle.BundleResult, exp: Expected) extends PassOut {
    def check(): Seq[String] = {
      val base = Files2.path(out)
      val meta = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(Files.readString(base.resolve("graph-metadata.json")))
      val stageProblems = spec.sources.flatMap { s =>
        val metas = Files2.list(base.resolve("sources").resolve(s.id)).filter(_.endsWith(s".meta.json"))
        if (metas.size != 1) Seq(s"${s.id}: expected one stage sidecar, found ${metas.size}")
        else if (Files.readString(Files2.path(metas.head)).contains("\"cached\""))
          Seq(s"${s.id}: a stage was served from the build cache")
        else Nil
      }
      Seq(
        "graph-metadata node_count" -> (meta.get("node_count").asLong, exp.nodes),
        "graph-metadata edge_count" -> (meta.get("edge_count").asLong, exp.edges),
        "bundle result node count" -> (result.nodeCount, exp.nodes),
        "bundle result edge count" -> (result.edgeCount, exp.edges),
        "re-read nodes.jsonl lines" -> (countLines(base.resolve("nodes.jsonl")), exp.nodes),
        "re-read edges.jsonl lines" -> (countLines(base.resolve("edges.jsonl")), exp.edges))
        .collect { case (what, (got, want)) if got != want => s"$what: $got, expected $want" } ++
        stageProblems
    }

    /** The bundle: jsonl parts and sidecars, not the per-source parquet. */
    def outputBytes: Long = {
      val base = Files2.path(out)
      Files2.sizeOf(base) - Files2.sizeOf(base.resolve("sources"))
    }
  }
}
