package graft.pipeline

import graft.SparkSpec
import graft.normalize.Normalizer
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}

class IngestPipelineSpec extends SparkSpec {

  private def loader(src: String, ids: Range, normalized: Boolean) = new IngestPipeline.SourceLoader {
    val sourceId: String = src
    def parse(s: SparkSession): (DataFrame, DataFrame) = {
      import s.implicits._
      val nodes = s.read.json(ids.map(i =>
        s"""{"id":"RAW:$i","name":"n$i","category":["biolink:NamedThing"]}""").toDS())
      val edges = s.read.json(ids.dropRight(1).map(i =>
        s"""{"subject":"RAW:$i","predicate":"raw:linked","object":"RAW:${i + 1}"}""").toDS())
      (nodes, edges)
    }
    override def nodeNormMap(s: SparkSession): Option[DataFrame] =
      if (!normalized) None
      else Some(Normalizer.nodeMapDf(s, ids.map(i =>
        Normalizer.NodeNormEntry(s"RAW:$i", s"NORM:$i", s"name $i")).toSeq))
    override def predicateNormMap(s: SparkSession): Option[DataFrame] =
      if (!normalized) None
      else Some(Normalizer.predicateMapDf(s,
        Seq(Normalizer.PredicateNormEntry("raw:linked", "biolink:related_to"))))
    override def nodeNormMapDefined: Boolean = normalized
  }

  test("runSource: parse→normalize stages recorded, meta sidecar written") {
    val dir = Files.createTempDirectory("ingest").toString
    val r = IngestPipeline.runSource(spark, loader("TESTSRC", 1 to 5, normalized = true), dir)
    assert(r.stages.map(_.stage) == Seq("parsing", "normalization", "supplementation"))
    assert(r.stages.last.detail == "not needed") // no sequence variants
    assert(r.stages.forall(_.status == "stable"))
    assert(r.nodes.count() == 5)
    assert(r.edges.count() == 4)
    assert(r.edges.select("predicate").distinct().head().getString(0) == "biolink:related_to")
    val meta = Files.readString(
      Paths.get(dir, "TESTSRC", r.buildVersion, "TESTSRC.meta.json"))
    assert(meta.contains("\"build_version\""))
    assert(r.buildVersion.length == 16)
  }

  test("runSource materializes the raw parse exactly once per row (single-scan pin)") {
    // the parse result feeds several consumers (stage-memo counts, the
    // normalization joins and their stats counts, the parquet write);
    // without the MEMORY_AND_DISK persist each consumer RE-RUNS the parse
    // — for non-splittable archive/gz sources that multiplies ingest cost
    // ~4×. This pins the single-scan property: an accumulator inside the
    // parse lineage must fire exactly once per row even on the
    // normalization branch (the heaviest consumer fan-out).
    val scans = spark.sparkContext.longAccumulator("parse-scans")
    val n = 64
    val counting = new IngestPipeline.SourceLoader {
      val sourceId = "SCANCOUNT"
      def parse(s: SparkSession): (DataFrame, DataFrame) = {
        import s.implicits._
        // re-bind as method-locals so the map closures capture only these,
        // not the loader/spec instance (Task not serializable otherwise)
        val acc = scans
        val nodes = s.range(1, n + 1).as[Long]
          .map { i => acc.add(1); (s"RAW:$i", s"n$i") }
          .toDF("id", "name")
          .withColumn("category",
            org.apache.spark.sql.functions.array(
              org.apache.spark.sql.functions.lit("biolink:NamedThing")))
        val edges = s.range(1, n).as[Long]
          .map { i => acc.add(1); (s"RAW:$i", "raw:linked", s"RAW:${i + 1}") }
          .toDF("subject", "predicate", "object")
        (nodes, edges)
      }
      override def nodeNormMap(s: SparkSession): Option[DataFrame] =
        Some(Normalizer.nodeMapDf(s, (1 to n).map(i =>
          Normalizer.NodeNormEntry(s"RAW:$i", s"NORM:$i", s"name $i"))))
      override def predicateNormMap(s: SparkSession): Option[DataFrame] =
        Some(Normalizer.predicateMapDf(s,
          Seq(Normalizer.PredicateNormEntry("raw:linked", "biolink:related_to"))))
    }
    val dir = Files.createTempDirectory("ingest_scan_once").toString
    val r = IngestPipeline.runSource(spark, counting, dir)
    assert(r.nodes.count() == n && r.edges.count() == n - 1)
    assert(scans.value == 2L * n - 1,
      s"raw parse re-ran: ${scans.value} row-materializations for ${2 * n - 1} rows")
  }

  test("content-hash cache: second run skips all stages and reuses parquet") {
    val dir = Files.createTempDirectory("ingest_cache").toString
    val l = loader("CACHED", 1 to 7, normalized = true)
    val first = IngestPipeline.runSource(spark, l, dir)
    assert(first.stages.map(_.stage) == Seq("parsing", "normalization", "supplementation"))
    val second = IngestPipeline.runSource(spark, l, dir)
    assert(second.stages.map(_.stage) == Seq("cached"))
    assert(second.buildVersion == first.buildVersion)
    assert(second.nodes.count() == first.nodes.count())
    assert(second.edges.count() == first.edges.count())
  }

  test("supplementation: variant nodes → VCF → SnpEff seam → normalized union (D5)") {
    import org.apache.spark.sql.functions._
    // the stub derives its gene id deterministically from the normalized
    // variant id — precompute it so the norm map can cover the gene
    val stubGene = spark.range(1).select(
      concat(lit("ENSEMBL:ENSG"),
        lpad((abs(xxhash64(lit("CAID:V1"))) % 1000).cast("string"), 11, "0")))
      .head().getString(0)

    val l = new IngestPipeline.SourceLoader {
      val sourceId = "GTEXLIKE"
      override def hasSequenceVariants: Boolean = true
      def parse(s: SparkSession): (DataFrame, DataFrame) = {
        import s.implicits._
        val nodes = s.read.json(Seq(
          """{"id":"HGVS:v1","name":"variant one","category":["biolink:SequenceVariant"],"robokop_variant_id":"ROBO_VARIANT:HG38|chr1|1000|1001|A|G"}""",
          """{"id":"RAWGENE:1","name":"gene one","category":["biolink:Gene"]}""").toDS())
        val edges = s.read.json(Seq(
          """{"subject":"HGVS:v1","predicate":"raw:affects","object":"RAWGENE:1","primary_knowledge_source":"infores:test"}""").toDS())
        (nodes, edges)
      }
      override def nodeNormMap(s: SparkSession): Option[DataFrame] =
        Some(Normalizer.nodeMapDf(s, Seq(
          Normalizer.NodeNormEntry("HGVS:v1", "CAID:V1", "variant one",
            category = Seq("biolink:SequenceVariant")),
          Normalizer.NodeNormEntry("RAWGENE:1", "NCBIGene:1", "gene one",
            category = Seq("biolink:Gene")),
          // the supplemental gene the SnpEff stub will surface
          Normalizer.NodeNormEntry(stubGene, stubGene, "stub gene",
            category = Seq("biolink:Gene")))))
      override def predicateNormMap(s: SparkSession): Option[DataFrame] =
        Some(Normalizer.predicateMapDf(s, Seq(
          Normalizer.PredicateNormEntry("raw:affects", "biolink:affects"),
          Normalizer.PredicateNormEntry("biolink:is_non_coding_variant_of",
            "biolink:is_non_coding_variant_of"))))
    }
    val dir = Files.createTempDirectory("ingest_supp").toString
    val r = IngestPipeline.runSource(spark, l, dir)
    assert(r.stages.map(_.stage) == Seq("parsing", "normalization", "supplementation"))
    val suppDetail = r.stages.last.detail
    assert(suppDetail == "supp_nodes=1 supp_node_failures=0 supp_edges=1 supp_failed_edges=0")
    // the supplemental variant→gene edge landed in the source graph,
    // subject pre-normalized, object through the node map
    val supp = r.edges.filter(col("primary_knowledge_source") === "infores:snpeff")
    assert(supp.count() == 1)
    val e = supp.head()
    assert(e.getAs[String]("subject") == "CAID:V1")
    assert(e.getAs[String]("object") == stubGene)
    assert(e.getAs[String]("predicate") == "biolink:is_non_coding_variant_of")
    assert(e.getAs[String]("snpeff_effect") == "intron_variant")
    // the stub gene node was normalized in and unioned
    assert(r.nodes.filter(col("id") === stubGene).count() == 1)
    // the original normalized edge is still there
    assert(r.edges.filter(col("predicate") === "biolink:affects").count() == 1)
  }

  test("buildGraph: two sources through spec → merged bundle") {
    val spec = GraphSpec(graphId = "TestGraph", graphName = "Test Graph",
      sources = Seq(GraphSource("A"), GraphSource("B")))
    val out = Files.createTempDirectory("build").toString
    val result = IngestPipeline.buildGraph(spark, spec,
      Map("A" -> loader("A", 1 to 10, normalized = true),
          "B" -> loader("B", 6 to 15, normalized = true)),
      out)
    // NORM ids 1..15 with overlap 6..10 merged
    assert(result.nodeCount == 15)
    assert(Files.exists(Paths.get(out, "graph-metadata.json")))
    assert(Files.exists(Paths.get(out, "sources", "A")))
    assert(Files.exists(Paths.get(out, "sources", "B")))
  }

  test("buildGraph: a source listed twice runs once and builds what the serial composition builds") {
    val parses = new java.util.concurrent.atomic.AtomicInteger
    val a = new IngestPipeline.SourceLoader {
      private val inner = loader("A", 1 to 10, normalized = true)
      val sourceId: String = "A"
      def parse(s: SparkSession): (DataFrame, DataFrame) = { parses.incrementAndGet(); inner.parse(s) }
      override def nodeNormMap(s: SparkSession): Option[DataFrame] = inner.nodeNormMap(s)
      override def predicateNormMap(s: SparkSession): Option[DataFrame] = inner.predicateNormMap(s)
      override def nodeNormMapDefined: Boolean = true
    }
    val loaders = Map("A" -> a, "B" -> loader("B", 6 to 15, normalized = true))
    val spec = GraphSpec(graphId = "TwiceGraph", sources = Seq(
      GraphSource("A"), GraphSource("B"), GraphSource("A", mergeStrategy = "connected_edge_subset")))
    val out = Files.createTempDirectory("build_twice").toString
    val result = IngestPipeline.buildGraph(spark, spec, loaders, out)
    assert(parses.get == 1)
    val versions = Files.list(Paths.get(out, "sources", "A"))
    try assert(versions.count() == 1) finally versions.close()

    // runSource per entry in spec order (the second A reads the first back)
    // → mergeGraph → finalizeBundle
    val serialOut = Files.createTempDirectory("build_twice_serial").toString
    val ingested = spec.sources.map(s => s -> IngestPipeline.runSource(spark, loaders(s.id), s"$serialOut/sources"))
    assert(ingested.last._2.stages.map(_.stage) == Seq("cached"))
    def graphs(strategy: String) = ingested.collect {
      case (s, r) if s.mergeStrategy == strategy => graft.merge.GraphMerger.SourceGraph(r.sourceId, r.nodes, r.edges, strategy)
    }
    val merged = graft.merge.GraphMerger.mergeGraph(graphs("default"), graphs("connected_edge_subset"))
    val serial = try GraphBundle.finalizeBundle(spec, merged.nodes, merged.edges, serialOut)
      finally merged.release()
    assert((result.nodeCount, result.edgeCount) == ((serial.nodeCount, serial.edgeCount)))
    assert(result.nodeCount == 15)
    Seq("nodes.jsonl", "edges.jsonl").foreach { f =>
      def rows(dir: String) = spark.read.text(s"$dir/$f").collect().map(_.getString(0)).sorted.toSeq
      assert(rows(out) == rows(serialOut), f)
    }
  }

  test("publish: atomic build→release promotion (O5)") {
    val build = Files.createTempDirectory("build_v").toString
    Files.writeString(Paths.get(build, "nodes.jsonl"), "{}\n")
    Files.createDirectory(Paths.get(build, "sub"))
    Files.writeString(Paths.get(build, "sub", "x.json"), "{}")
    val release = build + "_release"
    GraphBundle.publish(build, release)
    assert(Files.exists(Paths.get(release, "nodes.jsonl")))
    assert(Files.exists(Paths.get(release, "sub", "x.json")))
    assert(!Files.exists(Paths.get(release + ".staging")))
    // re-publish overwrites
    Files.writeString(Paths.get(build, "extra.txt"), "v2")
    GraphBundle.publish(build, release)
    assert(Files.exists(Paths.get(release, "extra.txt")))
  }
}
