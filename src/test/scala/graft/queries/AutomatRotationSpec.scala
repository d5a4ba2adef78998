package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins pipeline⟷derivation agreement for the q162 rotation beyond the
  * one graph the per-round DuckDB gate carries: builds each graph through
  * the FULL production `IngestPipeline.buildGraph` path and compares the
  * written bundle (re-read from disk) against `automatSignature`'s
  * independent re-derivation — the two sides share no merge code, so a
  * GraphMerger/MergeEngine semantics change that breaks the agreement
  * fails here without waiting for a Verify round. Graphs chosen for
  * distinct shapes: CTD_Automat (paired + `taxon` edge-merging attribute
  * — edges differing only in taxon must NOT merge), GWASCatalog_Automat
  * (paired, the largest fixture surface), COHD_Automat (single-source).
  * All 20 plain-fixture Automat graphs were vetted green through the
  * DuckDB gate in round 14 (BASELINE.md); this spec keeps three shapes
  * continuously pinned. */
class AutomatRotationSpec extends SparkSpec {

  private def bundleSignature(out: String, graphId: String) = {
    val nodes = spark.read.json(s"$out/nodes.jsonl")
      .select(lit("node").as("kind"), col("id").as("a"),
        array_join(array_sort(col("category")), "|").as("b"),
        lit("").as("c"), lit("").as("d"))
    val edgesRaw = spark.read.json(s"$out/edges.jsonl")
    val pks = if (edgesRaw.columns.contains("primary_knowledge_source"))
      coalesce(col("primary_knowledge_source"), lit("")) else lit("")
    val edges = edgesRaw.select(lit("edge").as("kind"), col("subject").as("a"),
      col("predicate").as("b"), col("object").as("c"), pks.as("d")).distinct()
    val metaGraphId = {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readString(
          java.nio.file.Paths.get(s"$out/graph-metadata.json")))
      m.get("graph_id").asText()
    }
    import spark.implicits._
    val meta = Seq(("meta", "graph_id", metaGraphId, "", ""))
      .toDF("kind", "a", "b", "c", "d")
    nodes.unionByName(edges).unionByName(meta)
  }

  private def sigRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(r => (0 until 5).map(r.getString).mkString(""))
      .sorted.toSeq

  // CTD/GWASCatalog/COHD pin the three plain-fixture shapes; DrugCentral
  // and PHAROS vet the embedded-Derby (spark.read.jdbc-sourced) staging
  // and Hetio the renamed-fixture staging for the rotation — these three
  // were outside the rotation until round 15 (SinkQueries now stages
  // them the way AutomatSpecDrivenBuildSpec always did)
  Seq("CTD_Automat", "GWASCatalog_Automat", "COHD_Automat",
      "DrugCentral_Automat", "PHAROS_Automat", "Hetio_Automat").foreach { gid =>
    test(s"$gid: full buildGraph bundle matches the independent derivation") {
      assume(new java.io.File("/root/reference/graph_specs/automat-graph-spec.yaml").isFile,
        "reference graph spec not available")
      val spec = SinkQueries.resolveAutomatSpec(gid)
      val out = java.nio.file.Files.createTempDirectory(s"rotation-$gid-").toString
      SinkQueries.automatBuild(spark, spec, out)
      val expected = sigRows(SinkQueries.automatSignature(spark, spec))
      val actual = sigRows(bundleSignature(out, gid))
      assert(actual == expected,
        s"$gid bundle diverged from derivation:\n actual=${actual.take(8)}\n expected=${expected.take(8)}")
      assert(expected.size > 3, s"$gid: vacuous signature") // nodes+edges+meta
    }
  }

  test("a non-rotatable graph fails up front, naming the rotatable ids") {
    // SPARK_GRAFT_AUTOMAT_GRAPH naming a spec with an unresolvable source
    // must die with an actionable message, not a NoSuchElementException
    // from deep inside the build
    val bogus = graft.pipeline.GraphSpec("Bogus_Automat", "Bogus", Seq("neo4j"),
      conflation = false, Nil, Seq(graft.pipeline.GraphSource("NoSuchSource")))
    val e = intercept[IllegalArgumentException](SinkQueries.validateRotatable(bogus))
    assert(e.getMessage.contains("NoSuchSource"))
    assert(e.getMessage.contains("rotatable graphs"))
  }

  test("the inline STRING-DB_Automat spec names STRING-DB-Human and is rotatable") {
    // the spec q162 builds on a host without the reference tree
    val spec = SinkQueries.inlineAutomatSpec("STRING-DB_Automat")
    assert(spec.sources.map(_.id) == Seq("STRING-DB-Human", "OntologicalHierarchy"))
    SinkQueries.validateRotatable(spec)
  }

  test("all 23 production Automat graphs are rotatable") {
    assume(new java.io.File("/root/reference/graph_specs/automat-graph-spec.yaml").isFile,
      "reference graph spec not available")
    val ids = SinkQueries.rotatableGraphIds
    assert(ids.size == 23, ids.sorted.mkString(", "))
    // the round-15 additions: the Derby-backed and renamed-fixture graphs
    Seq("DrugCentral_Automat", "PHAROS_Automat", "Hetio_Automat")
      .foreach(g => assert(ids.contains(g), g))
  }

  test("CTD_Automat derivation honors the taxon edge-merging attribute") {
    assume(new java.io.File("/root/reference/graph_specs/automat-graph-spec.yaml").isFile,
      "reference graph spec not available")
    val spec = SinkQueries.resolveAutomatSpec("CTD_Automat")
    assert(spec.edgeMergingAttributes == Seq("taxon"))
  }
}
