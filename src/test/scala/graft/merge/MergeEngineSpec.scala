package graft.merge

import graft.SparkSpec
import org.apache.spark.sql.functions._
import com.fasterxml.jackson.databind.ObjectMapper

/** Mirrors the reference merge-engine tests
  * (/root/reference/tests/test_merging.py) — the single DataFrame code path
  * replaces both MemoryGraphMerger and DiskGraphMerger. */
class MergeEngineSpec extends SparkSpec {
  private val mapper = new ObjectMapper()

  private def makeNodesJson(ns: Seq[String]): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    spark.read.json(ns.toDS())
  }

  test("node property merging: list concat + dedup (test_merging.py:20-33)") {
    val nodes = (1 to 10).map { i =>
      s"""{"id":"NODE:1","name":"Node 1","category":["biolink:NamedThing"],
          "equivalent_identifiers":["SYN_X","SYN_$i"],"testing_prop":[$i]}"""
        .replaceAll("\n\\s*", "")
    }
    val df = makeNodesJson(nodes).withColumn("_ordinal", monotonically_increasing_id())
    val merged = MergeEngine.mergeNodes(df).collect()
    assert(merged.length == 1)
    val node = mapper.readTree(merged.head.json)
    assert((1 to 10).map(i => node.get("testing_prop").get(i - 1).asInt()) == (1 to 10))
    assert(node.get("equivalent_identifiers").size() == 11)
    val eids = (0 until 11).map(node.get("equivalent_identifiers").get(_).asText()).toSet
    assert(eids.contains("SYN_X") && eids.contains("SYN_5"))
    assert(node.get("category").size() == 1)
  }

  test("node merging counts: 40 in, 25 out, 15 merged (test_merging.py:44-57)") {
    val batch1 = (1 to 20).map(i => s"""{"id":"NODE:$i","name":"Node $i","category":["biolink:NamedThing"]}""")
    val batch2 = (6 to 25).map(i => s"""{"id":"NODE:$i","name":"Node $i","category":["biolink:NamedThing"]}""")
    val dfs = MergeEngine.withOrdinal(Seq(makeNodesJson(batch1), makeNodesJson(batch2)))
    val df = dfs.reduce(_.unionByName(_))
    val merged = MergeEngine.mergeNodes(df).cache()
    assert(merged.count() == 25)
    assert(merged.agg(sum("nMerged")).head().getLong(0) == 15)
  }

  test("edge property merging + no id leak (test_merging.py:67-81)") {
    val edges = (1 to 10).map { i =>
      s"""{"subject":"NODE:1","predicate":"testing:predicate","object":"NODE:2","testing_property":[$i],"publications":["PMID:$i","PMID:12345"]}"""
    }
    val df = makeNodesJson(edges).withColumn("_ordinal", monotonically_increasing_id())
    val merged = MergeEngine.mergeEdges(df).collect()
    assert(merged.length == 1)
    val e = mapper.readTree(merged.head.json)
    assert(e.get("testing_property").size() == 10)
    assert(e.get("publications").size() == 11)
    assert(!e.has("id"))
  }

  test("edge_merging_attributes: same value merges, different values don't (test_merging.py:84-107)") {
    def edges(value: Int => String) = (1 to 10).map { i =>
      s"""{"subject":"NODE:1","predicate":"testing:predicate","object":"NODE:2","testing_property":[$i],"abstract_id":"${value(i)}"}"""
    }
    val same = MergeEngine.mergeEdges(
      makeNodesJson(edges(_ => "test_abstract_id")), Seq("abstract_id")).collect()
    assert(same.length == 1)
    assert(mapper.readTree(same.head.json).get("testing_property").size() == 10)

    val diff = MergeEngine.mergeEdges(
      makeNodesJson(edges(i => s"test_abstract_id_$i")), Seq("abstract_id")).collect()
    assert(diff.length == 10)
    assert(mapper.readTree(diff.head.json).get("testing_property").size() == 1)
  }

  test("differing primary_knowledge_source prevents merge (test_merging.py:167-183)") {
    val edges = Seq(
      """{"subject":"NODE:1","predicate":"testing:predicate","object":"NODE:2","primary_knowledge_source":"source_A","prop":[1]}""",
      """{"subject":"NODE:1","predicate":"testing:predicate","object":"NODE:2","primary_knowledge_source":"source_B","prop":[2]}""",
      """{"subject":"NODE:1","predicate":"testing:predicate","object":"NODE:2","primary_knowledge_source":"source_A","prop":[3]}""")
    val df = makeNodesJson(edges).withColumn("_ordinal", monotonically_increasing_id())
    val merged = MergeEngine.mergeEdges(df).collect()
    assert(merged.length == 2)
    merged.foreach { m =>
      val e = mapper.readTree(m.json)
      if (e.get("primary_knowledge_source").asText() == "source_A")
        assert((0 until 2).map(e.get("prop").get(_).asInt()) == Seq(1, 3))
      else
        assert(e.get("prop").size() == 1 && e.get("prop").get(0).asInt() == 2)
    }
  }

  test("primary ks extracted from retrieval sources (test_merging.py:185-200)") {
    def edge(src: String, p: Int) =
      s"""{"subject":"NODE:1","predicate":"testing:predicate","object":"NODE:2","prop":[$p],"sources":[{"resource_id":"$src","resource_role":"primary_knowledge_source"}]}"""
    val df = makeNodesJson(Seq(edge("source_A", 1), edge("source_B", 2), edge("source_A", 3)))
      .withColumn("_ordinal", monotonically_increasing_id())
    val merged = MergeEngine.mergeEdges(df).collect()
    assert(merged.length == 2)
  }

  test("edge key xxh64 matches reference xxh64_hexdigest (orion/merging.py:100)") {
    import spark.implicits._
    val df = spark.read.json(Seq(
      """{"subject":"NODE:1","predicate":"testing:predicate","object":"NODE:2"}""").toDS())
    val id = df.select(MergeKeys.edgeId(df).as("id")).head().getString(0)
    // pinned via an independent XXH64 implementation over the key string
    // 'NODE:1testing:predicateNODE:2' (empty primary ks, no qualifiers)
    assert(id == "ade7e26c9bf0755a")
  }

  test("uuid5 matches RFC 4122 (python uuid.uuid5 parity)") {
    // uuid.uuid5(uuid.NAMESPACE_DNS, 'python.org') — standard known value
    val dns = java.util.UUID.fromString("6ba7b810-9dad-11d1-80b4-00c04fd430c8")
    assert(MergeKeys.uuid5(dns, "python.org") == "886313e1-3b8a-5372-9b90-0c9aee199e5d")
  }

  test("scalar collision: first truthy wins, drop recorded") {
    val w = PropertyMerge.Warnings()
    val out = PropertyMerge.mergeAll(Seq(
      """{"id":"N:1","val":"","score":1.5}""",
      """{"id":"N:1","val":"second","score":2.5}""",
      """{"id":"N:1","val":"third"}"""), w)
    val n = mapper.readTree(out)
    assert(n.get("val").asText() == "second") // first was falsy ""
    assert(n.get("score").asDouble() == 1.5)  // truthy first wins
    assert(w.dropped.contains("val") && w.dropped.contains("score"))
  }

  test("retrieval sources list-of-dict dedup by resource_id+role (orion/merging.py:53-58)") {
    val w = PropertyMerge.Warnings()
    val out = PropertyMerge.mergeAll(Seq(
      """{"id":"E:1","sources":[{"resource_id":"infores:a","resource_role":"primary_knowledge_source","upstream":["x"]}]}""",
      """{"id":"E:1","sources":[{"resource_id":"infores:a","resource_role":"primary_knowledge_source","upstream":["y"]},{"resource_id":"infores:b","resource_role":"aggregator_knowledge_source"}]}"""), w)
    val n = mapper.readTree(out)
    assert(n.get("sources").size() == 2)
    val first = n.get("sources").get(0)
    assert(first.get("upstream").size() == 2) // recursive merge unioned upstream lists
  }

  test("connected_edge_subset keeps OR-matching edges and backfills nodes (kgx_file_merger.py:127-162)") {
    import spark.implicits._
    val primaryIds = Seq("NODE:1", "NODE:2").toDF("id")
    val secNodes = spark.read.json(Seq(
      """{"id":"NODE:2","name":"n2"}""", """{"id":"NODE:3","name":"n3"}""",
      """{"id":"NODE:4","name":"n4"}""", """{"id":"NODE:5","name":"n5"}""").toDS())
    val secEdges = spark.read.json(Seq(
      """{"subject":"NODE:2","predicate":"p","object":"NODE:3"}""",  // subj connected → keep
      """{"subject":"NODE:4","predicate":"p","object":"NODE:1"}""",  // obj connected → keep
      """{"subject":"NODE:4","predicate":"p","object":"NODE:5"}""").toDS()) // neither → drop
    val (addNodes, kept) = GraphMerger.connectedEdgeSubset(
      primaryIds, GraphMerger.SourceGraph("sec", secNodes, secEdges))
    assert(kept.count() == 2)
    assert(addNodes.select("id").as[String].collect().toSet == Set("NODE:3", "NODE:4"))
  }

  test("mergeGraph freezes primary ids, merges secondary edges, counts every source (kgx_file_merger.py:129-150)") {
    import spark.implicits._
    val primNodes = spark.read.json(Seq(
      """{"id":"NODE:1","name":"one"}""", """{"id":"NODE:2","name":"two"}""").toDS())
    val primEdges = spark.read.json(Seq(
      """{"subject":"NODE:1","predicate":"p","object":"NODE:2","primary_knowledge_source":"infores:prim","pubs":["PMID:1"]}""").toDS())
    // secA: one edge touching the primary set (backfills NODE:3), plus a
    // duplicate of the primary edge key that must MERGE, not duplicate
    val secANodes = spark.read.json(Seq(
      """{"id":"NODE:3","name":"three"}""").toDS())
    val secAEdges = spark.read.json(Seq(
      """{"subject":"NODE:2","predicate":"p","object":"NODE:3","primary_knowledge_source":"infores:secA"}""",
      """{"subject":"NODE:1","predicate":"p","object":"NODE:2","primary_knowledge_source":"infores:prim","pubs":["PMID:2"]}""").toDS())
    // secB: its only edge touches secA's backfill node NODE:3 but NOT the
    // primary set — the frozen primary_node_ids must DROP it
    val secBNodes = spark.read.json(Seq("""{"id":"NODE:4","name":"four"}""").toDS())
    val secBEdges = spark.read.json(Seq(
      """{"subject":"NODE:3","predicate":"p","object":"NODE:4","primary_knowledge_source":"infores:secB"}""").toDS())
    val merged = GraphMerger.mergeGraph(
      primary = Seq(GraphMerger.SourceGraph("prim", primNodes, primEdges)),
      secondary = Seq(GraphMerger.SourceGraph("secA", secANodes, secAEdges),
                      GraphMerger.SourceGraph("secB", secBNodes, secBEdges)))
    // secB's edge dropped; secA's dup edge merged into the primary edge
    val edges = merged.edges.select("subject", "object", "primary_knowledge_source").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(edges == Set(("NODE:1", "NODE:2", "infores:prim"), ("NODE:2", "NODE:3", "infores:secA")))
    // the merged dup edge unions list properties in ordinal order
    val pubs = merged.edges.filter(col("subject") === "NODE:1")
      .select("pubs").head().getSeq[String](0)
    assert(pubs == Seq("PMID:1", "PMID:2"))
    // nodes: 1,2 primary + 3 backfilled from secA; NODE:4 never enters
    // (its edge was dropped, and backfill only adds kept-edge endpoints)
    assert(merged.nodes.select("id").as[String].collect().toSet == Set("NODE:1", "NODE:2", "NODE:3"))
    // counts cover the secondary sources: 1 edge pair merged, 0 node merges
    assert(merged.mergedEdgeCount == 1)
    assert(merged.mergedNodeCount == 0)
  }

  /** Two primaries, a connected_edge_subset source and a dont_merge
    * source that share node ids and edge keys, as (nodes, edges) JSON
    * lines. Every column keeps one JSON type across the four sources. */
  private val fourSources: Seq[(String, Seq[String], Seq[String])] = {
    def node(id: String, name: String, cat: String, syn: Seq[String], desc: String = null) =
      s"""{"id":"$id","name":"$name","category":["$cat"],"synonym":${syn.map(s => s""""$s"""").mkString("[", ",", "]")}""" +
        Option(desc).map(d => s""","description":"$d"""").getOrElse("") + "}"
    def edge(s: String, o: String, ks: String, pubs: Seq[String], level: String = null,
             sources: Seq[(String, String)] = Nil) =
      s"""{"subject":"$s","predicate":"biolink:affects","object":"$o","primary_knowledge_source":"$ks",""" +
        s""""publications":${pubs.map(p => s""""$p"""").mkString("[", ",", "]")}""" +
        Option(level).map(l => s""","knowledge_level":"$l"""").getOrElse("") +
        (if (sources.isEmpty) "" else sources.map { case (id, role) =>
          s"""{"resource_id":"$id","resource_role":"$role"}""" }.mkString(""","sources":[""", ",", "]")) + "}"
    val pks = "primary_knowledge_source"
    Seq(
      ("P1", Seq(node("N:1", "one", "biolink:Gene", Seq("s1"), desc = ""),
                 node("N:2", "two", "biolink:Gene", Seq("s2"), desc = "d2")),
             Seq(edge("N:1", "N:2", "infores:a", Seq("PMID:1"), level = "kl_a",
                   sources = Seq("infores:a" -> pks)),
                 edge("N:2", "N:3", "infores:a", Seq("PMID:2")))),
      // N:1's name collides (both truthy: the first wins); its empty
      // description is filled; E(N:1→N:2) merges lists and sources
      ("P2", Seq(node("N:1", "uno", "biolink:Protein", Seq("s1b", "s1"), desc = "desc1"),
                 node("N:3", "three", "biolink:Gene", Nil, desc = "d3")),
             Seq(edge("N:1", "N:2", "infores:a", Seq("PMID:3", "PMID:1"), level = "kl_b",
                   sources = Seq("infores:a" -> pks, "infores:agg" -> "aggregator_knowledge_source")),
                 edge("N:3", "N:1", "infores:b", Seq("PMID:6")))),
      // kept: the E(N:1→N:2) duplicate and N:2→N:4 (backfills N:4);
      // dropped: N:5→N:6; N:1 is a primary id, so it is not backfilled
      ("S", Seq(node("N:4", "four", "biolink:Gene", Seq("s4")),
                node("N:5", "five", "biolink:Gene", Nil),
                node("N:6", "six", "biolink:Gene", Nil),
                node("N:1", "ein", "biolink:Gene", Seq("s1s"))),
            Seq(edge("N:1", "N:2", "infores:a", Seq("PMID:4"),
                  sources = Seq("infores:s" -> "supporting_data_source")),
                edge("N:2", "N:4", "infores:s", Nil),
                edge("N:5", "N:6", "infores:s", Nil))),
      // nodes merge; edges append verbatim, the E(N:1→N:2) key included
      ("D", Seq(node("N:1", "eins", "biolink:Gene", Seq("s1d")),
                node("N:4", "vier", "biolink:Gene", Seq("s4d"), desc = "d4"),
                node("N:7", "seven", "biolink:Gene", Nil)),
            Seq(edge("N:1", "N:2", "infores:a", Seq("PMID:5")),
                edge("N:7", "N:1", "infores:d", Nil))))
  }

  private def fourSourceMerge(): GraphMerger.MergedGraph = {
    import spark.implicits._
    val graphs = fourSources.map { case (id, ns, es) =>
      GraphMerger.SourceGraph(id, spark.read.json(ns.toDS()), spark.read.json(es.toDS()))
    }
    GraphMerger.mergeGraph(primary = graphs.take(2), secondary = Seq(graphs(2)),
      dontMerge = Seq(graphs(3)))
  }

  /** JSON rows as canonical (sorted-key) JSON, sorted. */
  private def canonical(rows: Seq[String]): Seq[String] =
    rows.map(j => PropertyMerge.canonicalJson(mapper.readTree(j))).sorted

  private def canonicalRows(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import spark.implicits._
    canonical(df.select(to_json(struct(df.columns.map(col): _*), Map("ignoreNullFields" -> "true")))
      .as[String].collect().toSeq)
  }

  test("mergeGraph equals one PropertyMerge fold per key over every source in order") {
    val merged = fourSourceMerge()
    try {
      def field(json: String, name: String) = mapper.readTree(json).path(name).asText()
      // the expected graph, without Spark: connected_edge_subset against
      // the primaries' ids, then one left fold per key in source order
      val Seq((_, p1n, p1e), (_, p2n, p2e), (_, sn, se), (_, dn, de)) = fourSources
      val primaryIds = (p1n ++ p2n).map(field(_, "id")).toSet
      val keptSecondary = se.filter(e => primaryIds(field(e, "subject")) || primaryIds(field(e, "object")))
      val backfill = keptSecondary.flatMap(e => Seq(field(e, "subject"), field(e, "object"))).toSet -- primaryIds
      def fold(rows: Seq[String], key: String => Any): (Seq[String], Long) = {
        val groups = rows.groupBy(key).values.toSeq
        (groups.map(g => PropertyMerge.mergeAll(g, PropertyMerge.Warnings())), groups.map(_.size - 1L).sum)
      }
      val (nodes, nodeMerges) = fold(p1n ++ p2n ++ sn.filter(n => backfill(field(n, "id"))) ++ dn,
        field(_, "id"))
      val (edges, edgeMerges) = fold(p1e ++ p2e ++ keptSecondary,
        e => Seq("subject", "predicate", "object", "primary_knowledge_source").map(field(e, _)))

      assert(canonicalRows(merged.nodes) == canonical(nodes))
      assert(canonicalRows(merged.edges) == canonical(edges ++ de))
      assert((merged.mergedNodeCount, merged.mergedEdgeCount) == ((nodeMerges, edgeMerges)))
      assert((nodeMerges, edgeMerges) == ((3L, 2L)))
    } finally merged.release()
  }

  test("a column that any source holds as a list is a list for every source") {
    import spark.implicits._
    def graph(id: String, line: String) =
      GraphMerger.SourceGraph(id, spark.read.json(Seq(line).toDS()),
        spark.read.json(Seq("""{"subject":"N:1","predicate":"p","object":"N:1"}""").toDS()))
    val merged = GraphMerger.mergeGraph(
      primary = Seq(graph("P1", """{"id":"N:1","provided_by":"a"}"""),
                    graph("P2", """{"id":"N:1","provided_by":"b"}""")),
      dontMerge = Seq(graph("D", """{"id":"N:1","provided_by":["c"]}""")))
    try {
      // every source's value is a list before the fold, so the primaries'
      // scalars union instead of colliding. The former two-pass merge
      // folded the primaries as scalars first (keeping "a", dropping "b")
      // and gave [a, c]; it gave [a, b, c] only when the list-valued
      // source was a primary.
      assert(merged.nodes.select("provided_by").as[Seq[String]].collect().toSeq == Seq(Seq("a", "b", "c")))
      assert(merged.mergedNodeCount == 2)
    } finally merged.release()
  }

  test("merged nodes and edges each plan one merge aggregate; the nodes.jsonl write plans no dedup") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.CollectList
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.SortAggregateExec
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val merged = fourSourceMerge()
    try {
      // the analyzed plan: the cache does not stand in for the merge there
      def mergeAggregates(df: org.apache.spark.sql.DataFrame) = df.queryExecution.analyzed.collect {
        case a: Aggregate if a.aggregateExpressions.exists(_.exists(_.isInstanceOf[CollectList])) => a
      }.size
      assert(mergeAggregates(merged.nodes) == 1, "node merge aggregates")
      assert(mergeAggregates(merged.edges) == 1, "edge merge aggregates")

      val writes = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
      val listener = new QueryExecutionListener {
        def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          writes.add(qe.executedPlan)
        def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
      }
      val out = java.nio.file.Files.createTempDirectory("merge-plan").toString
      spark.listenerManager.register(listener)
      try {
        graft.pipeline.GraphBundle.finalizeBundle(graft.pipeline.GraphSpec("g"),
          merged.nodes, merged.edges, out)
        org.apache.spark.graftbridge.ListenerBus.drain(spark.sparkContext)
      } finally spark.listenerManager.unregister(listener)
      import scala.jdk.CollectionConverters._
      // Spark plans the whole write adaptively: the command sits in a query stage
      val helper = new AdaptiveSparkPlanHelper {}
      val nodesWrite = writes.asScala.toSeq.flatMap(helper.collect(_) {
        case w @ DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _)
          if c.outputPath.getName == "nodes.jsonl" => w
      })
      assert(nodesWrite.size == 1, s"nodes.jsonl writes: ${nodesWrite.size}")
      // the merge cache's scan has no children here, so nothing under it counts
      val above = helper.collect(nodesWrite.head) {
        case p @ (_: ShuffleExchangeExec | _: SortAggregateExec) => p.nodeName
      }
      assert(above.isEmpty, s"nodes.jsonl plans ${above.mkString(", ")} above the merge cache")
    } finally merged.release()
  }

  test("a dont_merge source read through readJsonl publishes no _file_rank column") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("dont-merge-rank")
    def read(name: String, lines: Seq[String]) = {
      val f = dir.resolve(name)
      java.nio.file.Files.writeString(f, lines.mkString("", "\n", "\n"))
      graft.io.KgxIO.readJsonl(spark, Seq(f.toString))
    }
    val primary = GraphMerger.SourceGraph("P",
      read("p-nodes.jsonl", Seq("""{"id":"N:1","category":["biolink:Gene"]}""")),
      read("p-edges.jsonl", Seq("""{"subject":"N:1","predicate":"biolink:affects","object":"N:1"}""")))
    val dontMerge = GraphMerger.SourceGraph("D",
      read("d-nodes.jsonl", Seq("""{"id":"N:2","category":["biolink:Gene"]}""")),
      read("d-edges.jsonl", Seq("""{"subject":"N:2","predicate":"biolink:affects","object":"N:1"}""")),
      "dont_merge")
    val merged = GraphMerger.mergeGraph(Seq(primary), dontMerge = Seq(dontMerge))
    val out = dir.resolve("bundle")
    try graft.pipeline.GraphBundle.finalizeBundle(graft.pipeline.GraphSpec("g"),
      merged.nodes, merged.edges, out.toString)
    finally merged.release()
    val edgeLines = java.nio.file.Files.list(out.resolve("edges.jsonl")).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-")).flatMap { p =>
        val in = new java.util.zip.GZIPInputStream(java.nio.file.Files.newInputStream(p))
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList finally in.close()
      }
    assert(edgeLines.size == 2)
    assert(!edgeLines.exists(_.contains("_file_rank")), edgeLines.mkString("\n"))
    assert(!java.nio.file.Files.readString(out.resolve("schema.json")).contains("_file_rank"))
  }

  test("remove unconnected nodes (kgx_file_normalizer.py:419-439)") {
    import spark.implicits._
    val nodes = spark.read.json(Seq(
      """{"id":"NODE:1"}""", """{"id":"NODE:2"}""", """{"id":"NODE:9"}""").toDS())
    val edges = spark.read.json(Seq(
      """{"subject":"NODE:1","predicate":"p","object":"NODE:2"}""").toDS())
    val kept = GraphMerger.removeUnconnectedNodes(nodes, edges)
    assert(kept.select("id").as[String].collect().toSet == Set("NODE:1", "NODE:2"))
  }

  test("shuffled input-file creation order yields identical merge digests") {
    import spark.implicits._
    // first-truthy-wins folds in ordinal order, and ordinals derive from
    // scan order — KgxIO.resolveSorted must pin that to sorted path order
    // regardless of the order the FS returns (or the files were created in)
    val f1 = """{"id":"NODE:1","name":"first-wins","synonyms":["a"]}"""
    val f2 = """{"id":"NODE:1","name":"second","synonyms":["b"]}""" + "\n" +
      """{"id":"NODE:2","name":"only-in-second"}"""
    def mkDir(order: Seq[(String, String)]): String = {
      val dir = java.nio.file.Files.createTempDirectory("shuffled").toString
      order.foreach { case (name, content) =>
        java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, name), content)
      }
      dir
    }
    def digest(dir: String): Seq[String] = {
      val df = graft.io.KgxIO.readJsonl(spark, Seq(dir))
      val withOrd = MergeEngine.withOrdinal(Seq(df)).head
      MergeEngine.mergeNodes(withOrd).collect()
        .map(m => s"${m.key}|${m.json}|${m.nMerged}").sorted.toSeq
    }
    val a = digest(mkDir(Seq("00-first.jsonl" -> f1, "01-second.jsonl" -> f2)))
    val b = digest(mkDir(Seq("01-second.jsonl" -> f2, "00-first.jsonl" -> f1)))
    assert(a == b)
    assert(a.exists(_.contains("\"first-wins\"")), a.mkString("\n"))
    assert(!a.exists(_.contains("\"name\":\"second\"")))
  }

}
