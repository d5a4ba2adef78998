package graft.normalize

import graft.SparkSpec
import graft.normalize.Normalizer._

/** Mirrors the reference normalizer tests with canned service responses
  * (/root/reference/tests/test_kgx_file_normalizer.py:11-80): splits,
  * inversion, failure counts, subclass self-loop removal. */
class NormalizerSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private lazy val nodeMap = nodeMapDf(spark, Seq(
    NodeNormEntry("HGNC:7432", "NCBIGene:4522", "MTHFD1",
      Seq("biolink:Gene", "biolink:NamedThing"), Seq("NCBIGene:4522", "HGNC:7432"), Some(84.8)),
    NodeNormEntry("HGNC:18", "NCBIGene:5631", "ABC1", Seq("biolink:Gene"), Seq("NCBIGene:5631")),
    // a variant-style 1→2 split
    NodeNormEntry("DBSNP:rs12", "CAID:CA1", "rs12", Seq("biolink:SequenceVariant")),
    NodeNormEntry("DBSNP:rs12", "CAID:CA2", "rs12", Seq("biolink:SequenceVariant")),
    // self-loop setup: two curies normalizing to the same id
    NodeNormEntry("MESH:D1", "MONDO:1", "disease one", Seq("biolink:Disease")),
    NodeNormEntry("OMIM:1", "MONDO:1", "disease one", Seq("biolink:Disease"))))

  private lazy val predMap = predicateMapDf(spark, Seq(
    PredicateNormEntry("SEMMEDDB:CAUSES", "biolink:causes"),
    PredicateNormEntry("biolink:affected_by", "biolink:affects", inverted = true),
    PredicateNormEntry("biolink:subclass_of", "biolink:subclass_of")))

  private def nodesDf(jsons: String*) = {
    import spark.implicits._
    spark.read.json(jsons.toSeq.toDS())
  }

  test("strict node normalization drops failures, rewrites id/name/category") {
    val nodes = nodesDf(
      """{"id":"HGNC:7432","name":"old name","category":["biolink:Gene"]}""",
      """{"id":"UNKNOWN:1","name":"mystery","category":["biolink:NamedThing"]}""")
    val (out, stats) = normalizeNodes(nodes, nodeMap, strict = true)
    val rows = out.collect().map(r => r.getAs[String]("id") -> r.getAs[String]("name")).toMap
    assert(rows == Map("NCBIGene:4522" -> "MTHFD1"))
    assert(stats() == NodeNormStats(preNorm = 2, postNorm = 1, failures = 1))
  }

  test("lenient normalization keeps failed nodes with original values") {
    val nodes = nodesDf(
      """{"id":"HGNC:7432","name":"old","category":["biolink:Gene"]}""",
      """{"id":"UNKNOWN:1","name":"mystery","category":["biolink:NamedThing"]}""")
    val (out, stats) = normalizeNodes(nodes, nodeMap, strict = false)
    val rows = out.collect()
    assert(rows.length == 2 && stats().postNorm == 2)
    assert(stats().failures == 1) // reported (reference failed_to_normalize), not dropped
    val mystery = rows.find(_.getAs[String]("id") == "UNKNOWN:1").get
    assert(mystery.getAs[String]("name") == "mystery")
  }

  test("lenient normalization enforces valid node types (custom_node_types)") {
    // ref orion/normalization.py:244-264: types the biolink model doesn't
    // know move to custom_node_types, valid ones keep NamedThing appended,
    // a missing category reads as [NamedThing]
    val nodes = nodesDf(
      """{"id":"UNKNOWN:1","name":"a","category":["custom:Weird","biolink:Gene"]}""",
      """{"id":"UNKNOWN:2","name":"b"}""",
      """{"id":"UNKNOWN:3","name":"c","category":["biolink:NamedThing"]}""")
    val (out, _) = normalizeNodes(nodes, nodeMap, strict = false)
    def arr(r: org.apache.spark.sql.Row, c: String): List[String] =
      Option(r.getAs[scala.collection.Seq[String]](c)).map(_.toList).orNull
    val byId = out.collect()
      .map(r => r.getAs[String]("id") -> ((arr(r, "category"), arr(r, "custom_node_types"))))
      .toMap
    assert(byId("UNKNOWN:1") == ((List("biolink:Gene", "biolink:NamedThing"), List("custom:Weird"))))
    assert(byId("UNKNOWN:2") == ((List("biolink:NamedThing"), null)))
    assert(byId("UNKNOWN:3") == ((List("biolink:NamedThing"), null)))
    // a MAPPED node's category comes from the map, but custom_node_types
    // computed from the original types is retained (the reference sets it
    // before consulting the normalizer response)
    val mapped = nodesDf("""{"id":"HGNC:7432","name":"x","category":["custom:Odd"]}""")
    val (mout, _) = normalizeNodes(mapped, nodeMap, strict = false)
    val r = mout.head()
    assert(r.getAs[String]("id") == "NCBIGene:4522")
    assert(arr(r, "custom_node_types") == List("custom:Odd"))
  }

  test("node normalization strips newlines from string properties (both modes)") {
    // ref orion/normalization.py:235-242: every top-level string value of
    // every node loses its newline characters; arrays are untouched
    val nodes = nodesDf(
      """{"id":"HGNC:7432","name":"line1\nline2","category":["biolink:Gene"],"note":"a\nb\nc"}""",
      """{"id":"UNKNOWN:1","name":"my\nstery","category":["biolink:NamedThing"]}""")
    val (strictOut, _) = normalizeNodes(nodes, nodeMap, strict = true)
    assert(strictOut.filter(col("id") === "NCBIGene:4522").head()
      .getAs[String]("note") == "abc")
    val (lenientOut, _) = normalizeNodes(nodes, nodeMap, strict = false)
    assert(lenientOut.filter(col("id") === "UNKNOWN:1").head()
      .getAs[String]("name") == "mystery")
    // the strip runs BEFORE the normalizer response is applied (ref order
    // :235-242 then :280): a MAP-supplied name keeps its newline
    val oddMap = nodeMapDf(spark, Seq(
      NodeNormEntry("X:1", "Y:1", "two\nlines", Seq("biolink:Gene"), Seq("X:1"), None)))
    val (mapped, _) = normalizeNodes(nodesDf("""{"id":"X:1","name":"orig"}"""), oddMap)
    assert(mapped.head().getAs[String]("name") == "two\nlines")
  }

  test("pre-existing custom_node_types survives re-normalization") {
    // ref normalization.py:250-253 only ASSIGNS custom_node_types when
    // invalid types exist and never deletes the property — re-normalizing
    // a file that already carries it must not drop or null it
    val nodes = nodesDf(
      """{"id":"HGNC:7432","name":"x","category":["biolink:Gene"],"custom_node_types":["old:Type"]}""",
      """{"id":"UNKNOWN:1","name":"y","category":["biolink:NamedThing"],"custom_node_types":["old:Kept"]}""",
      """{"id":"UNKNOWN:2","name":"z","category":["bad:New"],"custom_node_types":["old:Gone"]}""")
    def custom(df: org.apache.spark.sql.DataFrame, id: String): List[String] =
      Option(df.filter(col("id") === id).head()
        .getAs[scala.collection.Seq[String]]("custom_node_types")).map(_.toList).orNull
    val (strictOut, _) = normalizeNodes(nodes, nodeMap, strict = true)
    assert(custom(strictOut, "NCBIGene:4522") == List("old:Type"))
    val (lenientOut, _) = normalizeNodes(nodes, nodeMap, strict = false)
    assert(custom(lenientOut, "UNKNOWN:1") == List("old:Kept")) // all valid → kept
    assert(custom(lenientOut, "UNKNOWN:2") == List("bad:New")) // invalid → overwritten
  }

  test("lenient edgeMap: failed nodes get identity entries so edges survive") {
    val nodes = nodesDf(
      """{"id":"HGNC:7432","name":"old","category":["biolink:Gene"]}""",
      """{"id":"UNKNOWN:1","name":"mystery","category":["biolink:NamedThing"]}""")
    // strict: the node map's (orig_id, norm_id) pairs and nothing else
    val strictMap = edgeMap(nodes, nodeMap, strict = true)
    assert(strictMap.columns.toSeq == Seq("orig_id", "norm_id"))
    assert(strictMap.filter(col("orig_id") === "UNKNOWN:1").isEmpty)
    val em = edgeMap(nodes, nodeMap, strict = false)
    val edges = nodesDf(
      """{"subject":"HGNC:7432","predicate":"SEMMEDDB:CAUSES","object":"UNKNOWN:1"}""")
    val (out, stats) = normalizeEdges(edges, em, predMap, "infores:test")
    assert(stats.edgesFailedDueToNodes == 0)
    val row = out.head()
    assert(row.getAs[String]("subject") == "NCBIGene:4522")
    assert(row.getAs[String]("object") == "UNKNOWN:1") // original id retained
  }

  test("node split: one curie to N normalized nodes") {
    val nodes = nodesDf("""{"id":"DBSNP:rs12","name":"v","category":["biolink:SequenceVariant"]}""")
    val (out, stats) = normalizeNodes(nodes, nodeMap)
    assert(out.select("id").collect().map(_.getString(0)).toSet == Set("CAID:CA1", "CAID:CA2"))
    assert(stats().postNorm == 2)
  }

  test("raw ids that normalize to one id keep the first input row (both modes)") {
    // two files read through KgxIO: Spark packs scan splits by descending
    // size, so the larger second file's rows come first in the scan; the
    // file rank, not the scan order, decides which row is first
    val dir = java.nio.file.Files.createTempDirectory("norm_first")
    java.nio.file.Files.writeString(dir.resolve("a.jsonl"),
      """{"id":"SYN:A","name":"from a","note":"a"}""" + "\n")
    java.nio.file.Files.writeString(dir.resolve("b.jsonl"),
      ("""{"id":"SYN:B","name":"from b","note":"b"}""" +:
        (1 to 50).map(i => s"""{"id":"PAD:$i","name":"padding $i","note":"pad"}"""))
        .mkString("", "\n", "\n"))
    val synMap = nodeMapDf(spark, Seq(NodeNormEntry("SYN:A", "SYN:1"), NodeNormEntry("SYN:B", "SYN:1")))
    val nodes = graft.io.KgxIO.readJsonl(spark, Seq(dir.toString))
    Seq(true, false).foreach { strict =>
      val (out, stats) = normalizeNodes(nodes, synMap, strict)
      val rows = out.collect()
      val syn = rows.filter(_.getAs[String]("id") == "SYN:1")
        .map(r => (r.getAs[String]("name"), r.getAs[String]("note"))).toSeq
      assert(syn == Seq(("from a", "a")), s"strict=$strict")
      assert(!out.columns.exists(_.startsWith("_")), out.columns.mkString(", "))
      assert(stats() == NodeNormStats(preNorm = 52, postNorm = if (strict) 1 else 51, failures = 50))
    }
  }

  test("edge normalization: endpoint rewrite, original retention, failure count") {
    val edges = nodesDf(
      """{"subject":"HGNC:7432","predicate":"SEMMEDDB:CAUSES","object":"HGNC:18"}""",
      """{"subject":"HGNC:7432","predicate":"SEMMEDDB:CAUSES","object":"MISSING:1"}""")
    val (out, stats) = normalizeEdges(edges, nodeMap, predMap, "infores:test")
    assert(stats.sourceEdges == 2 && stats.edgesFailedDueToNodes == 1)
    val e = out.head()
    assert(e.getAs[String]("subject") == "NCBIGene:4522")
    assert(e.getAs[String]("object") == "NCBIGene:5631")
    assert(e.getAs[String]("predicate") == "biolink:causes")
    assert(e.getAs[String]("original_subject") == "HGNC:7432")
    assert(e.getAs[String]("original_object") == "HGNC:18")
    assert(e.getAs[String]("primary_knowledge_source") == "infores:test")
  }

  test("edge split: 1→N endpoint fans out, split counted (kgx_file_normalizer.py:295-333)") {
    val edges = nodesDf(
      """{"subject":"HGNC:7432","predicate":"SEMMEDDB:CAUSES","object":"DBSNP:rs12"}""")
    val (out, stats) = normalizeEdges(edges, nodeMap, predMap, "infores:test")
    assert(out.count() == 2)
    assert(stats.edgeSplits == 1)
    assert(out.select("object").collect().map(_.getString(0)).toSet == Set("CAID:CA1", "CAID:CA2"))
  }

  test("inverted predicate swaps subject and object (affected_by → affects)") {
    val edges = nodesDf(
      """{"subject":"HGNC:7432","predicate":"biolink:affected_by","object":"HGNC:18","subject_aspect_qualifier":"activity"}""")
    val (out, _) = normalizeEdges(edges, nodeMap, predMap, "infores:test")
    val e = out.head()
    assert(e.getAs[String]("predicate") == "biolink:affects")
    // swapped: subject gets the normalized object id
    assert(e.getAs[String]("subject") == "NCBIGene:5631")
    assert(e.getAs[String]("object") == "NCBIGene:4522")
    assert(e.getAs[String]("original_subject") == "HGNC:18")
    // qualifier columns swap too: subject_aspect_qualifier moved to object side
    assert(e.getAs[String]("object_aspect_qualifier") == "activity")
    assert(e.getAs[String]("subject_aspect_qualifier") == null)
  }

  test("subclass self-loop removed when both endpoints normalize together (N6)") {
    val edges = nodesDf(
      """{"subject":"MESH:D1","predicate":"biolink:subclass_of","object":"OMIM:1"}""")
    val (out, stats) = normalizeEdges(edges, nodeMap, predMap, "infores:test")
    assert(out.count() == 0)
    assert(stats.subclassLoopsRemoved == 1)
  }

  test("snapshot loaders parse the canned NodeNorm/predicate response shapes") {
    val dir = java.nio.file.Files.createTempDirectory("norm_snapshot")
    val nodeFile = dir.resolve("nodenorm.json")
    java.nio.file.Files.writeString(nodeFile,
      """{"HGNC:7432": {
           "id": {"identifier": "NCBIGene:4522", "label": "MTHFD1"},
           "type": ["biolink:Gene", "biolink:NamedThing"],
           "equivalent_identifiers": [{"identifier": "NCBIGene:4522"}, {"identifier": "HGNC:7432"}],
           "information_content": 84.8},
         "UNKNOWN:1": null}""")
    val predFile = dir.resolve("predmap.json")
    java.nio.file.Files.writeString(predFile,
      """{"SEMMEDDB:CAUSES": {"predicate": "biolink:causes"},
          "biolink:affected_by": {"predicate": "biolink:affects", "inverted": true}}""")
    val nm = nodeMapFromSnapshot(spark, nodeFile.toString)
    assert(nm.count() == 1) // null entry (failed normalization) excluded
    val r = nm.head()
    assert(r.getAs[String]("orig_id") == "HGNC:7432")
    assert(r.getAs[String]("norm_id") == "NCBIGene:4522")
    assert(r.getAs[String]("name") == "MTHFD1")
    assert(r.getSeq[String](r.fieldIndex("equivalent_identifiers")) ==
      Seq("NCBIGene:4522", "HGNC:7432"))
    val pm = predicateMapFromSnapshot(spark, predFile.toString)
    assert(pm.count() == 2)
    assert(pm.filter(col("orig_predicate") === "biolink:affected_by")
      .head().getAs[Boolean]("inverted"))
    // and the loaded maps drive a real normalization
    val edges = nodesDf("""{"subject":"HGNC:7432","predicate":"SEMMEDDB:CAUSES","object":"HGNC:7432"}""")
    val (out, _) = normalizeEdges(edges, nm, pm, "infores:test")
    assert(out.head().getAs[String]("subject") == "NCBIGene:4522")
  }

  test("unknown predicate falls back to biolink:related_to (normalization.py:475)") {
    val edges = nodesDf(
      """{"subject":"HGNC:7432","predicate":"weird:predicate","object":"HGNC:18"}""")
    val (out, _) = normalizeEdges(edges, nodeMap, predMap, "infores:test")
    assert(out.head().getAs[String]("predicate") == "biolink:related_to")
  }
}
