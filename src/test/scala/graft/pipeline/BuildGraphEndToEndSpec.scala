package graft.pipeline

import graft.{Observe, SparkSpec}
import graft.merge.GraphMerger
import graft.derive.DerivedGraphs
import graft.io.KgxIO
import graft.normalize.Normalizer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}

/** End-to-end build mirroring tests/test_build_graph_end_to_end.py:
  * inline spec → merge overlapping sources → bundle with sidecars. */
class BuildGraphEndToEndSpec extends SparkSpec {

  private val specYaml =
    """graphs:
      |  - graph_id: Example_Graph
      |    graph_name: Example Graph
      |    conflation: true
      |    output_format: jsonl+neo4j
      |    edge_merging_attributes: [ taxon ]
      |    sources:
      |      - id: SourceA
      |        strict_normalization: true
      |      - id: SourceB
      |        merge_strategy: connected_edge_subset
      |""".stripMargin

  test("graph spec YAML parses (FIXTURES.md §6 shape)") {
    val specs = GraphSpec.parseYaml(specYaml)
    assert(specs.length == 1)
    val g = specs.head
    assert(g.graphId == "Example_Graph")
    assert(g.conflation)
    assert(g.outputFormats == Seq("jsonl", "neo4j"))
    assert(g.edgeMergingAttributes == Seq("taxon"))
    assert(g.sources.map(_.id) == Seq("SourceA", "SourceB"))
    assert(g.sources(1).mergeStrategy == "connected_edge_subset")
  }

  test("content-hash build versions are deterministic and order-insensitive") {
    val v1 = Versioning.sourceBuildVersion("CTD", "2024-01", "1.5", "2.0")
    val v2 = Versioning.sourceBuildVersion("CTD", "2024-01", "1.5", "2.0")
    val v3 = Versioning.sourceBuildVersion("CTD", "2024-02", "1.5", "2.0")
    assert(v1 == v2 && v1 != v3 && v1.length == 16)
    assert(Versioning.graphBuildVersion(Seq(v1, v3)) == Versioning.graphBuildVersion(Seq(v3, v1)))
    assert(Versioning.nextReleaseVersion(Seq("1.0.0", "1.0.4")) == "1.0.5")
    assert(Versioning.nextReleaseVersion(Nil) == "1.0.0")
  }

  test("build end-to-end: merge two overlapping sources → bundle + sidecars") {
    import spark.implicits._
    def nodes(r: Range, src: String) = spark.read.json(r.map(i =>
      s"""{"id":"NODE:$i","name":"Node $i","category":["biolink:NamedThing"],"srcs":["$src"]}""").toDS())
    def edges(r: Range) = spark.read.json(r.map(i =>
      s"""{"subject":"NODE:$i","predicate":"biolink:affects","object":"NODE:${i + 1}","primary_knowledge_source":"infores:test"}""").toDS())

    val merged = GraphMerger.mergeGraph(
      primary = Seq(
        GraphMerger.SourceGraph("SourceA", nodes(1 to 20, "a"), edges(1 to 10)),
        GraphMerger.SourceGraph("SourceB", nodes(6 to 25, "b"), edges(6 to 15))))
    assert(merged.nodes.count() == 25)
    assert(merged.mergedNodeCount == 15)
    assert(merged.edges.count() == 15) // 1-10 ∪ 6-15

    // overlap nodes carry both sources (list concat + dedup)
    val n10 = merged.nodes.filter(col("id") === "NODE:10")
      .select(col("srcs")).head().getSeq[String](0)
    assert(n10 == Seq("a", "b"))

    val out = Files.createTempDirectory("bundle").toString
    val spec = GraphSpec.parseYaml(specYaml).head
    val result = GraphBundle.finalizeBundle(spec, merged.nodes, merged.edges, out)
    assert(result.nodeCount == 25 && result.edgeCount == 15)
    assert(Files.exists(Paths.get(out, "nodes.jsonl")))
    assert(Files.exists(Paths.get(out, "edges.jsonl")))
    assert(Files.exists(Paths.get(out, "graph-metadata.json")))
    assert(Files.exists(Paths.get(out, "qc-results.json")))
    assert(Files.exists(Paths.get(out, "schema.json")))
    val qcJson = Files.readString(Paths.get(out, "qc-results.json"))
    assert(qcJson.contains("\"node_count\" : 25"))
    assert(qcJson.contains("\"biolink:affects\" : 15"))
    // infores-catalog validation: infores:test is not in the registry slice
    assert(qcJson.contains("\"invalid_knowledge_sources\" : [ \"infores:test\" ]"))
    assert(qcJson.contains("invalid infores identifier: infores:test"))
    assert(qcJson.contains("\"invalid_node_types\" : [ ]")) // NamedThing is valid
    // published schema.json format (kgx_metadata.py:230-447)
    val schemaJson = Files.readString(Paths.get(out, "schema.json"))
    assert(schemaJson.contains("\"nodes_summary\""))
    assert(schemaJson.contains("\"edges_summary\""))
    assert(schemaJson.contains("\"predicates_by_knowledge_source\""))
    assert(schemaJson.contains("\"subject_id_prefixes\""))
    assert(schemaJson.contains("\"infores:test\" : 15"))
  }

  test("meta-KG trio files (meta_kg.py:14-16)") {
    import spark.implicits._
    val nodes = spark.read.json(Seq(
      """{"id":"HGNC:1","name":"g","category":["biolink:Gene"]}""",
      """{"id":"MONDO:1","name":"d","category":["biolink:Disease"]}""").toDS())
    val edges = spark.read.json(Seq(
      """{"subject":"HGNC:1","predicate":"biolink:gene_associated_with_condition","object":"MONDO:1","publications":["PMID:1"]}""").toDS())
    val out = Files.createTempDirectory("metakg").toString
    graft.derive.MetaKg.writeMetaKgFiles(nodes, edges, out)
    val mk = Files.readString(Paths.get(out, "meta_knowledge_graph.json"))
    assert(mk.contains("\"biolink:Gene\""))
    assert(mk.contains("\"predicate\" : \"biolink:gene_associated_with_condition\""))
    assert(mk.contains("\"publications\""))
    val td = Files.readString(Paths.get(out, "testing_data.json"))
    assert(td.contains("\"subject_id\" : \"HGNC:1\""))
    assert(Files.readAllLines(Paths.get(out, "example_edges.jsonl")).size() == 1)
  }

  test("redundant KG expansion: ancestors + qualifier permutations (redundant_kg.py:51-106)") {
    import spark.implicits._
    val edges = spark.read.json(Seq(
      """{"subject":"A","predicate":"biolink:causes","object":"B","object_aspect_qualifier":"expression","object_direction_qualifier":"upregulated","qualified_predicate":"biolink:causes"}""").toDS())
    val out = DerivedGraphs.redundantEdges(edges)
    // aspects: expression,abundance,activity_or_abundance (3)
    // directions: none,upregulated,increased (3) → 9 permutations
    // + stripped self + 3 strict ancestors (contributes_to, affects, related_to)
    assert(out.count() == 13)
    val stripped = out.filter(col("object_aspect_qualifier").isNull)
    assert(stripped.count() == 4)
    assert(out.filter(col("predicate") === "biolink:related_to").count() == 1)
    // permutations keep qualified_predicate; stripped copies drop it
    assert(out.filter(col("qualified_predicate").isNotNull).count() == 9)
  }

  test("collapsed qualifiers grammar (collapse_qualifiers.py example)") {
    import spark.implicits._
    val edges = spark.read.json(Seq(
      """{"subject":"UNII:7PK6VC94OU","predicate":"biolink:affects","object":"NCBIGene:6531","primary_knowledge_source":"infores:ctd","subject_direction_qualifier":"increased","subject_aspect_qualifier":"abundance","subject_form_or_variant_qualifier":"mutant_form","subject_derivative_qualifier":"transcript","subject_part_qualifier":"polyA_tail","object_aspect_qualifier":"activity","object_direction_qualifier":"upregulated","object_form_or_variant_qualifier":"wildtype_form","object_derivative_qualifier":"protein","object_part_qualifier":"catalytic_site","causal_mechanism_qualifier":"phosphorylation","species_context_qualifier":"human","anatomical_context_qualifier":"liver","qualified_predicate":"biolink:causes"}""").toDS())
    val out = DerivedGraphs.collapsedQualifierEdges(edges)
    val pred = out.select("predicate").head().getString(0)
    assert(pred ==
      "increased_abundance_of_mutant_form_of_<subject_node>_transcript_polyA_tail_causes_" +
      "upregulated_activity_of_wildtype_form_of_<object_node>_protein_catalytic_site_" +
      "via_phosphorylation_in_human_liver")
    assert(!out.columns.contains("object_aspect_qualifier"))
    // unqualified edge keeps its predicate
    val plain = spark.read.json(Seq(
      """{"subject":"A","predicate":"biolink:related_to","object":"B"}""").toDS())
    assert(DerivedGraphs.collapsedQualifierEdges(plain)
      .select("predicate").head().getString(0) == "biolink:related_to")
  }

  /** Four KGX jsonl sources laid out like perfbench's kg_build: normalized
    * primaries A and B (clique collapse, an inverted, an unmapped and a
    * subclass predicate, unmapped ids, a 1→2 split), C as
    * connected_edge_subset and D as dont_merge. */
  private def kgFixture(dir: Path): (GraphSpec, Map[String, IngestPipeline.SourceLoader]) = {
    def write(p: Path, lines: Seq[String]): Unit = {
      Files.createDirectories(p.getParent)
      Files.writeString(p, lines.mkString("", "\n", "\n"))
    }
    def node(id: String) = {
      val cat = id.takeWhile(_ != ':') match {
        case "HP" => "biolink:PhenotypicFeature"
        case "GO" => "biolink:BiologicalProcess"
        case _ => "biolink:ChemicalEntity"
      }
      s"""{"id":"$id","name":"name of $id","category":["$cat"]}"""
    }
    def edge(s: String, p: String, o: String) =
      s"""{"subject":"$s","predicate":"$p","object":"$o","primary_knowledge_source":"infores:fixture"}"""
    val preds = Seq("biolink:affects", "biolink:treated_by", "biolink:fixture_unmapped",
      "biolink:interacts_with")
    def primary(id: String, ks: Range): Seq[Normalizer.NodeNormEntry] = {
      val forms = ks.flatMap(k => Seq(s"MESH:$k") ++ (if (k % 4 == 0) Seq(s"CHEBI:$k") else Nil))
      val nodes = forms ++ Seq(s"UNMAPPED:$id:1", s"UNMAPPED:$id:2")
      val edges = ks.indices.flatMap { i =>
        val (a, b) = (ks(i), ks((i * 7 + 3) % ks.size))
        if (a == b) Nil else Seq(edge(s"MESH:$a", preds(i % preds.size), s"MESH:$b"))
      } ++ Seq(edge(s"MESH:${ks(1)}", "biolink:affects", s"UNMAPPED:$id:1"),
        edge(s"UNMAPPED:$id:2", "biolink:causes", s"MESH:${ks(2)}"),
        edge(s"MESH:${ks(3)}", "biolink:subclass_of", s"MESH:${ks(3)}"))
      write(dir.resolve(s"$id/nodes.jsonl"), nodes.map(node))
      write(dir.resolve(s"$id/edges.jsonl"), edges)
      forms.map(f => Normalizer.NodeNormEntry(f, s"CHEBI:${f.dropWhile(_ != ':').tail}",
        s"label of $f")) :+ Normalizer.NodeNormEntry(s"MESH:${ks(4)}", s"CHEBI:${ks(4) + 1000}")
    }
    val maps = Map("SRC_A" -> primary("SRC_A", 1 to 30), "SRC_B" -> primary("SRC_B", 20 to 50))
    val cEdges = (1 to 12).map(i => edge(s"CHEBI:${i * 4}", "biolink:has_phenotype", s"HP:${i % 5}")) ++
      (1 to 4).map(i => edge(s"HP:$i", "biolink:related_to", s"HP:${i + 5}"))
    val dEdges = (1 to 6).map(i => edge(s"GO:${i % 3}", "biolink:affects", s"CHEBI:${i * 8}"))
    Seq("SRC_C" -> cEdges, "SRC_D" -> dEdges).foreach { case (id, es) =>
      write(dir.resolve(s"$id/edges.jsonl"), es)
      write(dir.resolve(s"$id/nodes.jsonl"), es.flatMap { e =>
        "\"(subject|object)\":\"([^\"]+)\"".r.findAllMatchIn(e).map(_.group(2))
      }.distinct.map(node))
    }
    val predMap = Seq(
      Normalizer.PredicateNormEntry("biolink:affects", "biolink:affects"),
      Normalizer.PredicateNormEntry("biolink:interacts_with", "biolink:interacts_with"),
      Normalizer.PredicateNormEntry("biolink:treated_by", "biolink:treats", inverted = true),
      Normalizer.PredicateNormEntry("biolink:subclass_of", "biolink:subclass_of"))
    final class Loader(val sourceId: String) extends IngestPipeline.SourceLoader {
      def parse(s: SparkSession): (DataFrame, DataFrame) =
        (KgxIO.readJsonl(s, Seq(dir.resolve(s"$sourceId/nodes.jsonl").toString)),
          KgxIO.readJsonl(s, Seq(dir.resolve(s"$sourceId/edges.jsonl").toString)))
      override def nodeNormMapDefined: Boolean = maps.contains(sourceId)
      override def nodeNormMap(s: SparkSession): Option[DataFrame] =
        maps.get(sourceId).map(Normalizer.nodeMapDf(s, _))
      override def predicateNormMap(s: SparkSession): Option[DataFrame] =
        maps.get(sourceId).map(_ => Normalizer.predicateMapDf(s, predMap))
    }
    val spec = GraphSpec("fixture_kg", "fixture KG", sources = Seq(
      GraphSource("SRC_A"), GraphSource("SRC_B"),
      GraphSource("SRC_C", mergeStrategy = "connected_edge_subset"),
      GraphSource("SRC_D", mergeStrategy = "dont_merge")))
    (spec, spec.sources.map(s => s.id -> new Loader(s.id)).toMap)
  }

  test("buildGraph runs a pinned number of jobs per label and writes unchanged stage memos") {
    // the stage-memo and merge counts ride the actions that write the data:
    // no label runs a job of its own for a count, and no stat falls back
    val (spec, loaders) = kgFixture(Files.createTempDirectory("kg_fixture"))
    val out = Files.createTempDirectory("kg_build").toString
    val sc = spark.sparkContext
    val group = s"job-pin-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, group)
    val report =
      try Observe.measure(spark)(IngestPipeline.buildGraph(spark, spec, loaders, out))._2
      finally sc.clearJobGroup()
    val jobs = report.jobs.filter(_.group.contains(group))
      .groupBy(_.description).map { case (d, js) => d -> js.size }
    val perNormalized = Seq(": parse + count" -> 2, ": normalize" -> 6, ": versioned parquet" -> 6)
    val perPreNormalized = Seq(": parse + count" -> 2, ": versioned parquet" -> 2)
    assert(jobs === (
      Seq("SRC_A", "SRC_B").flatMap(id => perNormalized.map { case (l, n) => s"ingest $id$l" -> n }) ++
      Seq("SRC_C", "SRC_D").flatMap(id => perPreNormalized.map { case (l, n) => s"ingest $id$l" -> n }) ++
      Seq("bundle: nodes.jsonl" -> 8, "bundle: edges.jsonl" -> 5, "bundle: qc + schema.json" -> 6)).toMap)
    assert(jobs.values.sum == 55)

    import scala.jdk.CollectionConverters._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val memos = spec.sources.map { s =>
      val meta = mapper.readTree(Files.readString(Paths.get(out, "sources", s.id,
        IngestPipeline.expectedBuildVersion(loaders(s.id)), s"${s.id}.meta.json")))
      s.id -> meta.get("stages").elements().asScala.map(st =>
        s"${st.get("stage").asText}: ${st.get("detail").asText}").toSeq
    }.toMap
    assert(memos === Map(
      "SRC_A" -> Seq("parsing: nodes=39 edges=33",
        "normalization: nodes=31 failures=2 edges=32 splits=2 failed_edges=2 loops=1",
        "supplementation: not needed"),
      "SRC_B" -> Seq("parsing: nodes=41 edges=33",
        "normalization: nodes=32 failures=2 edges=32 splits=2 failed_edges=2 loops=1",
        "supplementation: not needed"),
      "SRC_C" -> Seq("parsing: nodes=21 edges=16", "normalization: pre-normalized",
        "supplementation: not needed"),
      "SRC_D" -> Seq("parsing: nodes=9 edges=6", "normalization: pre-normalized",
        "supplementation: not needed")))
  }

  /** `dir`'s files by path relative to it, with the Spark part files of
    * each directory renamed by their index (their names carry a job id). */
  private def bundleFiles(dir: Path): Map[String, Array[Byte]] = {
    import scala.jdk.CollectionConverters._
    val files = Files.walk(dir)
    val all = try files.iterator().asScala.filter(Files.isRegularFile(_)).toList finally files.close()
    all.filterNot(_.getFileName.toString.startsWith(".")).groupBy(_.getParent).toSeq.flatMap { case (parent, fs) =>
      val (parts, rest) = fs.partition(_.getFileName.toString.startsWith("part-"))
      (rest.map(f => f.getFileName.toString -> f) ++
        parts.sortBy(_.getFileName.toString).zipWithIndex.map { case (f, i) => s"part-$i" -> f })
        .map { case (name, f) => dir.relativize(parent.resolve(name)).toString -> Files.readAllBytes(f) }
    }.toMap
  }

  private def mergeIngested(spec: GraphSpec, ingested: Seq[(GraphSource, IngestPipeline.IngestResult)]) = {
    def graphs(strategy: String) = ingested.collect {
      case (s, r) if s.mergeStrategy == strategy =>
        GraphMerger.SourceGraph(r.sourceId, r.nodes, r.edges, s.mergeStrategy)
    }
    GraphMerger.mergeGraph(graphs("default"), graphs("connected_edge_subset"), graphs("dont_merge"),
      spec.edgeMergingAttributes, Some(graft.merge.MergeEngine.counters(spark)))
  }

  test("buildGraph writes the same bytes as its serial composition and keeps the caller's description") {
    val (spec, loaders) = kgFixture(Files.createTempDirectory("kg_fixture"))
    val sc = spark.sparkContext
    val built = Files.createTempDirectory("kg_build")
    val group = s"caller-desc-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "caller phase")
    val after = try {
      IngestPipeline.buildGraph(spark, spec, loaders, built.toString)
      assert(sc.getLocalProperty("spark.job.description") == "caller phase")
      Observe.measure(spark)(spark.range(0, 5, 1, 1).selectExpr("sum(id)").head())._2
    } finally sc.clearJobGroup()
    assert(after.jobs.filter(_.group.contains(group)).map(_.description) == Seq("caller phase"))

    // runSource in spec order → mergeGraph → finalizeBundle, one at a time
    val serial = Files.createTempDirectory("kg_serial")
    val ingested = spec.sources.map(s =>
      s -> IngestPipeline.runSource(spark, loaders(s.id), s"$serial/sources"))
    val merged = mergeIngested(spec, ingested)
    try GraphBundle.finalizeBundle(spec, merged.nodes, merged.edges, serial.toString)
    finally merged.release()

    val (a, b) = (bundleFiles(built), bundleFiles(serial))
    assert(a.keySet == b.keySet)
    Seq("graph-metadata.json", "qc-results.json", "schema.json").foreach(f => assert(a.contains(f), f))
    assert(a.keys.count(_.endsWith(".meta.json")) == 4)
    assert(a.keys.count(k => k.startsWith("nodes.jsonl/part-") || k.startsWith("edges.jsonl/part-")) >= 2)
    val differing = a.keys.filter(k => (k.startsWith("nodes.jsonl/") || k.startsWith("edges.jsonl/") ||
      !k.contains('/') || k.endsWith(".meta.json")) && !java.util.Arrays.equals(a(k), b(k)))
    assert(differing.isEmpty, s"files differ from the serial build: ${differing.toSeq.sorted}")
  }

  /** The bundle's `nodes.jsonl`/`edges.jsonl` lines, sorted, and its
    * top-level sidecars' bytes. */
  private def bundleContent(dir: Path): Map[String, Seq[String]] = {
    import scala.jdk.CollectionConverters._
    def lines(part: Path): Seq[String] = {
      val in = new java.util.zip.GZIPInputStream(Files.newInputStream(part))
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList finally in.close()
    }
    def listed(p: Path): List[Path] = {
      val s = Files.list(p)
      try s.iterator().asScala.toList finally s.close()
    }
    val (dirs, files) = listed(dir).filterNot(_.getFileName.toString.startsWith(".")).partition(Files.isDirectory(_))
    files.map(f => f.getFileName.toString -> Seq(Files.readString(f))).toMap ++
      dirs.filter(d => d.getFileName.toString.endsWith(".jsonl")).map { d =>
        d.getFileName.toString ->
          listed(d).filter(_.getFileName.toString.startsWith("part-")).flatMap(lines).sorted
      }
  }

  test("buildGraph writes the same bundle whatever the join strategy, partition count or AQE") {
    // a duplicated normalized id keeps its first input row: the pick must
    // not follow a broadcast side, a partition layout or a replanning
    val (spec, loaders) = kgFixture(Files.createTempDirectory("kg_fixture"))
    val settings = Seq(
      "default" -> Map.empty[String, String],
      "broadcast off" -> Map("spark.sql.autoBroadcastJoinThreshold" -> "-1"),
      "7 uncoalesced partitions" -> Map("spark.sql.shuffle.partitions" -> "7",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false"),
      "AQE off" -> Map("spark.sql.adaptive.enabled" -> "false"))
    val bundles = settings.map { case (name, conf) =>
      val before = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
      val out = Files.createTempDirectory("kg_perturbed")
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try IngestPipeline.buildGraph(spark, spec, loaders, out.toString)
      finally before.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      name -> bundleContent(out)
    }
    val (_, reference) = bundles.head
    Seq("nodes.jsonl", "edges.jsonl", "graph-metadata.json", "qc-results.json", "schema.json")
      .foreach(f => assert(reference.contains(f), f))
    // the fixture's first input row for CHEBI:12 is MESH:12's
    assert(reference("nodes.jsonl").exists(l => l.contains("\"id\":\"CHEBI:12\"") &&
      l.contains("\"name\":\"label of MESH:12\"")))
    bundles.tail.foreach { case (name, content) =>
      val differing = reference.keys.filter(k => content.get(k) != reference.get(k)).toSeq.sorted
      val lines = differing.flatMap(k => (reference(k).toSet -- content.getOrElse(k, Nil)).map(l => s"$k: $l"))
      assert(content.keySet == reference.keySet, name)
      assert(differing.isEmpty,
        s"$name: ${lines.size} lines differ from the default session's bundle:\n${lines.take(5).mkString("\n")}")
    }
  }

  /** A count pin: the merge counts finalizeBundle's jobs report. It has
    * not been seen to fail when two jobs split the fill of an observed
    * cache, so it does not guard [[graft.Lineage.concurrently]]'s rule. */
  test("the merge counts read after finalizeBundle equal a serial read, on every run") {
    val (spec, loaders) = kgFixture(Files.createTempDirectory("kg_fixture"))
    val dir = Files.createTempDirectory("kg_merge_counts")
    val ingested = spec.sources.map(s =>
      s -> IngestPipeline.runSource(spark, loaders(s.id), s"$dir/sources"))
    // serial: no action but the counts' own
    val reference = {
      val merged = mergeIngested(spec, ingested)
      try (merged.mergedNodeCount, merged.mergedEdgeCount) finally merged.release()
    }
    // the fixture merges nodes (SRC_A and SRC_B overlap) but no edges
    assert(reference == ((17L, 0L)))
    (1 to 5).foreach { run =>
      val merged = mergeIngested(spec, ingested)
      try {
        GraphBundle.finalizeBundle(spec, merged.nodes, merged.edges, s"$dir/bundle-$run")
        assert((merged.mergedNodeCount, merged.mergedEdgeCount) == reference, s"run $run")
      } finally merged.release()
    }
  }
}
