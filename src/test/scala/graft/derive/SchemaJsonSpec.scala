package graft.derive

import graft.SparkSpec
import java.nio.file.Files

/** The bundle statistics: published schema.json serialization
  * (kgx_metadata.py:230-447) with its leaf grouping, count-sorted maps,
  * qualifier/attribute split and summaries, and the QC results. */
class SchemaJsonSpec extends SparkSpec {

  test("leaf-category grouping + qualifier/attribute split + summaries") {
    import spark.implicits._
    val nodes = spark.read.json(Seq(
      // leaf group {Gene} — NamedThing ancestor dropped by leaf computation
      """{"id":"HGNC:1","name":"g1","category":["biolink:NamedThing","biolink:Gene"],"taxon":"NCBITaxon:9606"}""",
      """{"id":"HGNC:2","name":"g2","category":["biolink:Gene"]}""",
      """{"id":"MONDO:1","name":"d","category":["biolink:Disease","biolink:DiseaseOrPhenotypicFeature"]}""").toDS())
    val edges = spark.read.json(Seq(
      """{"subject":"HGNC:1","predicate":"biolink:gene_associated_with_condition","object":"MONDO:1","primary_knowledge_source":"infores:test","publications":["PMID:1"],"object_aspect_qualifier":"activity"}""",
      """{"subject":"HGNC:2","predicate":"biolink:gene_associated_with_condition","object":"MONDO:1","primary_knowledge_source":"infores:test"}""").toDS())

    val (_, root) = BundleStats(nodes, edges)

    // node groups: {Gene} ×2 and {Disease} ×1 (ancestors leaf-dropped)
    val nodesArr = root.get("nodes")
    assert(nodesArr.size() == 2)
    val byFirstCat = (0 until nodesArr.size()).map(nodesArr.get)
      .map(n => n.get("category").get(0).asText() -> n).toMap
    assert(byFirstCat("biolink:Gene").get("count").asLong() == 2)
    assert(byFirstCat("biolink:Gene").get("id_prefixes").get("HGNC").asLong() == 2)
    assert(byFirstCat("biolink:Gene").get("attributes").get("name").asLong() == 2)
    assert(byFirstCat("biolink:Gene").get("attributes").get("taxon").asLong() == 1)
    assert(byFirstCat("biolink:Disease").get("count").asLong() == 1)

    assert(root.get("nodes_summary").get("total_count").asLong() == 3)
    assert(root.get("nodes_summary").get("id_prefixes").get("HGNC").asLong() == 2)

    // one edge type; qualifier counted apart from attributes
    val edgesArr = root.get("edges")
    assert(edgesArr.size() == 1)
    val e = edgesArr.get(0)
    assert(e.get("predicate").asText() == "biolink:gene_associated_with_condition")
    assert(e.get("count").asLong() == 2)
    assert(e.get("primary_knowledge_sources").get("infores:test").asLong() == 2)
    assert(e.get("qualifiers").get("object_aspect_qualifier").asLong() == 1)
    assert(e.get("attributes").get("publications").asLong() == 1)
    assert(e.get("attributes").has("object_aspect_qualifier") == false)
    assert(e.get("subject_id_prefixes").get("HGNC").asLong() == 2)

    val es = root.get("edges_summary")
    assert(es.get("total_count").asLong() == 2)
    assert(es.get("predicates_by_knowledge_source").get("infores:test")
      .get("biolink:gene_associated_with_condition").asLong() == 2)
  }

  test("QC flags invalid node types and deprecated/invalid knowledge sources") {
    import spark.implicits._
    val nodes = spark.read.json(Seq(
      """{"id":"X:1","name":"a","category":["custom:Widget"]}""",
      """{"id":"HGNC:1","name":"g","category":["biolink:Gene"]}""").toDS())
    val edges = spark.read.json(Seq(
      """{"subject":"X:1","predicate":"biolink:related_to","object":"HGNC:1","primary_knowledge_source":"infores:ncbigene"}""",
      """{"subject":"HGNC:1","predicate":"biolink:related_to","object":"X:1","primary_knowledge_source":"infores:not-in-registry"}""").toDS())
    val (qc, _) = BundleStats(nodes, edges)
    assert(qc.invalidNodeTypes == Seq("custom:Widget"))
    assert(qc.deprecatedKnowledgeSources == Seq("infores:ncbigene"))
    assert(qc.invalidKnowledgeSources == Seq("infores:not-in-registry"))
    assert(qc.warnings.exists(_.contains("deprecated infores identifier: infores:ncbigene")))
  }

  test("bundle sidecars: dangling endpoints, two-leaf and unknown categories, null pks, aggregators, qualifiers") {
    import spark.implicits._
    val nodes = spark.read.json(Seq(
      """{"id":"HGNC:1","name":"g1","category":["biolink:NamedThing","biolink:Gene"],"taxon":"NCBITaxon:9606"}""",
      // two leaf types: neither category is an ancestor of the other
      """{"id":"HGNC:2","name":"g2","category":["biolink:Gene","biolink:Disease"]}""",
      """{"id":"X:1","name":"w","category":["custom:Widget"]}""",
      """{"id":"MONDO:1","category":["biolink:Disease"]}""",
      """{"id":"colonless","name":"c","category":["biolink:NamedThing"]}""").toDS())
    val edges = spark.read.json(Seq(
      """{"subject":"HGNC:1","predicate":"biolink:gene_associated_with_condition","object":"MONDO:1","primary_knowledge_source":"infores:hgnc","aggregator_knowledge_source":["infores:automat-robokop","infores:not-an-aggregator"],"publications":["PMID:1"],"object_aspect_qualifier":"activity"}""",
      """{"subject":"HGNC:2","predicate":"biolink:gene_associated_with_condition","object":"MONDO:1","primary_knowledge_source":"infores:ncbigene"}""",
      // no primary_knowledge_source
      """{"subject":"X:1","predicate":"biolink:related_to","object":"HGNC:1"}""",
      """{"subject":"colonless","predicate":"biolink:related_to","object":"HGNC:2","primary_knowledge_source":"infores:hgnc","aggregator_knowledge_source":[]}""",
      // one endpoint missing from the nodes, then both
      """{"subject":"HGNC:1","predicate":"biolink:related_to","object":"MISSING:9","primary_knowledge_source":"infores:hgnc"}""",
      """{"subject":"MISSING:1","predicate":"biolink:affects","object":"MISSING:2","primary_knowledge_source":"infores:ghost"}""").toDS())
    val spec = graft.pipeline.GraphSpec("sidecar_kg", "sidecar KG",
      sources = Seq(graft.pipeline.GraphSource("SRC", sourceVersion = Some("v1"))))
    val out = Files.createTempDirectory("sidecars")
    val result = graft.pipeline.GraphBundle.finalizeBundle(spec, nodes, edges, out.toString)
    assert((result.nodeCount, result.edgeCount) == ((5L, 6L)))
    def text(f: String) = Files.readString(out.resolve(f))
    // qc-results.json serializes every QcResults field
    val metadataJson =
      """{
      |  "graph_id" : "sidecar_kg",
      |  "graph_name" : "sidecar KG",
      |  "build_version" : "44ba85ad2aae9d18",
      |  "node_count" : 5,
      |  "edge_count" : 6,
      |  "sources" : [ {
      |    "id" : "SRC",
      |    "build_version" : "1bab8ca95d0651ed",
      |    "merge_strategy" : "default"
      |  } ]
      |}""".stripMargin
    val qcJson =
      """{
      |  "node_count" : 5,
      |  "edge_count" : 6,
      |  "edges_missing_nodes" : 3,
      |  "node_type_counts" : {
      |    "biolink:Disease" : 2,
      |    "biolink:Gene" : 2,
      |    "biolink:NamedThing" : 1,
      |    "custom:Widget" : 1
      |  },
      |  "predicate_counts" : {
      |    "biolink:affects" : 1,
      |    "biolink:gene_associated_with_condition" : 2,
      |    "biolink:related_to" : 3
      |  },
      |  "primary_knowledge_source_counts" : {
      |    "(none)" : 1,
      |    "infores:ghost" : 1,
      |    "infores:hgnc" : 3,
      |    "infores:ncbigene" : 1
      |  },
      |  "invalid_node_types" : [ "custom:Widget" ],
      |  "deprecated_knowledge_sources" : [ "infores:ncbigene" ],
      |  "invalid_knowledge_sources" : [ "infores:ghost", "infores:not-an-aggregator" ],
      |  "warnings" : [ "3 edge endpoints missing from nodes", "invalid node types: custom:Widget", "deprecated infores identifier: infores:ncbigene", "invalid infores identifier: infores:ghost", "invalid infores identifier: infores:not-an-aggregator" ]
      |}""".stripMargin
    val schemaJson =
      """{
      |  "nodes" : [ {
      |    "category" : [ "biolink:Disease" ],
      |    "count" : 1,
      |    "id_prefixes" : {
      |      "MONDO" : 1
      |    },
      |    "attributes" : { }
      |  }, {
      |    "category" : [ "biolink:Disease", "biolink:Gene" ],
      |    "count" : 1,
      |    "id_prefixes" : {
      |      "HGNC" : 1
      |    },
      |    "attributes" : {
      |      "name" : 1
      |    }
      |  }, {
      |    "category" : [ "biolink:Gene" ],
      |    "count" : 1,
      |    "id_prefixes" : {
      |      "HGNC" : 1
      |    },
      |    "attributes" : {
      |      "name" : 1,
      |      "taxon" : 1
      |    }
      |  }, {
      |    "category" : [ "biolink:NamedThing" ],
      |    "count" : 1,
      |    "id_prefixes" : {
      |      "" : 1
      |    },
      |    "attributes" : {
      |      "name" : 1
      |    }
      |  }, {
      |    "category" : [ "custom:Widget" ],
      |    "count" : 1,
      |    "id_prefixes" : {
      |      "X" : 1
      |    },
      |    "attributes" : {
      |      "name" : 1
      |    }
      |  } ],
      |  "nodes_summary" : {
      |    "total_count" : 5,
      |    "id_prefixes" : {
      |      "HGNC" : 2,
      |      "" : 1,
      |      "MONDO" : 1,
      |      "X" : 1
      |    },
      |    "attributes" : {
      |      "name" : 4,
      |      "taxon" : 1
      |    }
      |  },
      |  "edges" : [ {
      |    "subject_category" : [ "biolink:Disease", "biolink:Gene" ],
      |    "predicate" : "biolink:gene_associated_with_condition",
      |    "object_category" : [ "biolink:Disease" ],
      |    "count" : 1,
      |    "primary_knowledge_sources" : {
      |      "infores:ncbigene" : 1
      |    },
      |    "qualifiers" : { },
      |    "attributes" : { },
      |    "subject_id_prefixes" : {
      |      "HGNC" : 1
      |    },
      |    "object_id_prefixes" : {
      |      "MONDO" : 1
      |    }
      |  }, {
      |    "subject_category" : [ "biolink:Gene" ],
      |    "predicate" : "biolink:gene_associated_with_condition",
      |    "object_category" : [ "biolink:Disease" ],
      |    "count" : 1,
      |    "primary_knowledge_sources" : {
      |      "infores:hgnc" : 1
      |    },
      |    "qualifiers" : {
      |      "object_aspect_qualifier" : 1
      |    },
      |    "attributes" : {
      |      "aggregator_knowledge_source" : 1,
      |      "publications" : 1
      |    },
      |    "subject_id_prefixes" : {
      |      "HGNC" : 1
      |    },
      |    "object_id_prefixes" : {
      |      "MONDO" : 1
      |    }
      |  }, {
      |    "subject_category" : [ "biolink:NamedThing" ],
      |    "predicate" : "biolink:related_to",
      |    "object_category" : [ "biolink:Disease", "biolink:Gene" ],
      |    "count" : 1,
      |    "primary_knowledge_sources" : {
      |      "infores:hgnc" : 1
      |    },
      |    "qualifiers" : { },
      |    "attributes" : {
      |      "aggregator_knowledge_source" : 1
      |    },
      |    "subject_id_prefixes" : {
      |      "" : 1
      |    },
      |    "object_id_prefixes" : {
      |      "HGNC" : 1
      |    }
      |  }, {
      |    "subject_category" : [ "custom:Widget" ],
      |    "predicate" : "biolink:related_to",
      |    "object_category" : [ "biolink:Gene" ],
      |    "count" : 1,
      |    "primary_knowledge_sources" : {
      |      "(none)" : 1
      |    },
      |    "qualifiers" : { },
      |    "attributes" : { },
      |    "subject_id_prefixes" : {
      |      "X" : 1
      |    },
      |    "object_id_prefixes" : {
      |      "HGNC" : 1
      |    }
      |  } ],
      |  "edges_summary" : {
      |    "total_count" : 4,
      |    "predicates" : {
      |      "biolink:gene_associated_with_condition" : 2,
      |      "biolink:related_to" : 2
      |    },
      |    "primary_knowledge_sources" : {
      |      "infores:hgnc" : 2,
      |      "(none)" : 1,
      |      "infores:ncbigene" : 1
      |    },
      |    "predicates_by_knowledge_source" : {
      |      "(none)" : {
      |        "biolink:related_to" : 1
      |      },
      |      "infores:hgnc" : {
      |        "biolink:gene_associated_with_condition" : 1,
      |        "biolink:related_to" : 1
      |      },
      |      "infores:ncbigene" : {
      |        "biolink:gene_associated_with_condition" : 1
      |      }
      |    },
      |    "qualifiers" : {
      |      "object_aspect_qualifier" : 1
      |    },
      |    "attributes" : {
      |      "aggregator_knowledge_source" : 2,
      |      "publications" : 1
      |    }
      |  }
      |}""".stripMargin
    assert(text("graph-metadata.json") == metadataJson)
    assert(text("qc-results.json") == qcJson)
    assert(text("schema.json") == schemaJson)
  }

  test("a node without a category is keyed and counted as biolink:NamedThing") {
    import spark.implicits._
    val nodes = spark.read.json(Seq(
      """{"id":"HGNC:1","name":"g","category":["biolink:Gene"]}""",
      """{"id":"X:1","name":"x"}""").toDS())
    val edges = spark.read.json(Seq(
      """{"subject":"HGNC:1","predicate":"biolink:related_to","object":"X:1","primary_knowledge_source":"infores:hgnc"}""").toDS())
    val spec = graft.pipeline.GraphSpec("no_category_kg", "no category KG",
      sources = Seq(graft.pipeline.GraphSource("SRC", sourceVersion = Some("v1"))))
    val out = Files.createTempDirectory("no-category")
    graft.pipeline.GraphBundle.finalizeBundle(spec, nodes, edges, out.toString)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    def read(f: String) = json.readTree(out.resolve(f).toFile)
    val qc = read("qc-results.json")
    assert(qc.get("node_type_counts").toString == """{"biolink:Gene":1,"biolink:NamedThing":1}""")
    assert(qc.get("invalid_node_types").size() == 0)
    val schema = read("schema.json")
    val groups = (0 until schema.get("nodes").size()).map(schema.get("nodes").get(_))
      .map(n => n.get("category").toString -> n.get("id_prefixes").toString)
    assert(groups == Seq("""["biolink:Gene"]""" -> """{"HGNC":1}""",
      """["biolink:NamedThing"]""" -> """{"X":1}"""))
    val edge = schema.get("edges").get(0)
    assert(schema.get("edges").size() == 1)
    assert(edge.get("subject_category").toString == """["biolink:Gene"]""")
    assert(edge.get("object_category").toString == """["biolink:NamedThing"]""")
  }
}
