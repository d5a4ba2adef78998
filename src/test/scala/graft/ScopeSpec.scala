package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.graftbridge.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerUnpersistRDD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.CacheEntries
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** The cache-ownership contract of [[Lineage.scoped]] and [[Scope]], and
  * the operators that rely on it: a throw in the middle of an operator
  * leaves the session's caches as they were. Suites run one at a time in
  * the forked test JVM and the ContextCleaner only ever removes entries,
  * so "as they were" is: the same cache-manager entry count, and no
  * persisted RDD id that was not there before. */
class ScopeSpec extends SparkSpec {
  import spark.implicits._

  private def sc = spark.sparkContext
  private def persisted() = sc.getPersistentRDDs.keySet.toSet
  private def cacheEntries() = CacheEntries.count(spark)

  /** Ids of the RDDs unpersisted while `f` runs, in order. */
  private def unpersistedDuring(f: => Unit): Seq[Int] = {
    val ids = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = ids.add(e.rddId)
    }
    sc.addSparkListener(listener)
    try { f; ListenerBus.drain(sc) } finally sc.removeSparkListener(listener)
    ids.asScala.toSeq
  }

  /** Caches a fresh frame in `scope`, fills it, and returns the id of the
    * RDD that holds its blocks. */
  private def fill(scope: Scope, rows: Int): Int = {
    val before = persisted()
    scope.cached(spark.range(0, rows, 1, 2).toDF("x")).count()
    val ids = persisted() -- before
    assert(ids.size == 1, s"expected one cached RDD, got $ids")
    ids.head
  }

  Seq("returns", "throws").foreach { exit =>
    test(s"a scope releases its frames newest first when its body $exit") {
      var filled = Seq.empty[Int]
      val boom = new RuntimeException("body failed")
      val freed = unpersistedDuring {
        val run = () => Lineage.scoped { scope =>
          filled = Seq(fill(scope, 10), fill(scope, 11), fill(scope, 12))
          if (exit == "throws") throw boom
        }
        if (exit == "throws") assert(intercept[RuntimeException](run()) eq boom) else run()
      }
      assert(freed.filter(filled.contains) == filled.reverse)
      assert((persisted() intersect filled.toSet).isEmpty)
    }
  }

  test("an early release frees the frame at once and is not repeated at close") {
    val twin = spark.range(0, 20, 1, 2).toDF("x")
    Lineage.scoped { scope =>
      val a = scope.cached(spark.range(0, 20, 1, 2).toDF("x"))
      a.count()
      scope.release(a)
      assert(a.storageLevel == StorageLevel.NONE)
      // a frame with the same plan, cached by someone else: a second
      // release of `a` at close would drop this entry too
      twin.persist().count()
    }
    try assert(twin.storageLevel != StorageLevel.NONE, "close released `a` a second time")
    finally twin.unpersist()
  }

  test("owned keeps its scope open for the result and closes it on a throw") {
    val entries = cacheEntries()
    val scope = Lineage.owned { s => s.cached(spark.range(0, 30).toDF("x")).count(); s }
    assert(cacheEntries() == entries + 1)
    scope.close()
    assert(cacheEntries() == entries)
    intercept[IllegalStateException](Lineage.owned { s =>
      s.cached(spark.range(0, 31).toDF("x")).count()
      throw new IllegalStateException("owned body failed")
    })
    assert(cacheEntries() == entries)
  }

  /** A column that fails the task evaluating the row where `key` equals
    * `at`, and is `key` everywhere else. The inputs below are read from
    * JSON, not built from a local Seq: Catalyst folds a projection over a
    * local relation while planning, which would throw inside `persist()`,
    * before any cache is registered. */
  private def failingAt(key: String, at: String) =
    when(col(key) === at, raise_error(lit(s"injected failure at $at"))).otherwise(col(key))

  private def jsonl(rows: String*): DataFrame = spark.read.json(rows.toDS())
  private lazy val edges = jsonl(Seq("a" -> "b", "b" -> "c", "c" -> "a", "c" -> "d", "boom" -> "a")
      .map { case (s, d) => s"""{"src":"$s","dst":"$d"}""" }: _*)
    .withColumn("src", failingAt("src", "boom"))
  private lazy val seeds = Seq("a").toDF("node")
  private lazy val docs = jsonl((1 to 6).map(i => s"""{"id":$i,"text":"the quick brown fox number $i jumps"}"""): _*)
    .withColumn("text", failingAt("text", "the quick brown fox number 4 jumps"))
  private lazy val kgNodes = jsonl("""{"id":"N:1","name":"one"}""", """{"id":"N:2","name":"two"}""")
    .withColumn("name", failingAt("name", "two"))
  private lazy val kgEdges = jsonl("""{"subject":"N:1","predicate":"p","object":"N:2"}""")

  private val failing: Seq[(String, () => Any)] = Seq(
    "PageRank" -> (() => graft.graph.PageRank.run(edges, iterations = 2).collect()),
    "KCore" -> (() => graft.graph.KCore.run(edges, k = 1, rounds = 2).collect()),
    "LabelPropagation" -> (() => graft.graph.LabelPropagation.run(edges, iterations = 2).collect()),
    "ShortestPaths" -> (() =>
      graft.graph.ShortestPaths.run(edges.withColumn("w", lit(1L)), seeds, rounds = 2).collect()),
    "Walks" -> (() => graft.graph.Walks.run(edges, seeds, steps = 2, c => xxhash64(c)).collect()),
    "Triangles" -> (() => graft.graph.Triangles.triangles(edges).collect()),
    "Dedup.minhashLshCandidates" -> (() =>
      graft.dedup.Dedup.minhashLshCandidates(docs, "id", "text", shingleN = 2).collect()),
    "Dedup.ngramJaccardPairs" -> (() =>
      graft.dedup.Dedup.ngramJaccardPairs(docs, "id", "text", shingleN = 2).collect()),
    // the merge runs no action itself: its result's first action fails,
    // and releasing the result frees every cache the merge made
    "GraphMerger.mergeGraph" -> (() => {
      val merged = graft.merge.GraphMerger.mergeGraph(
        Seq(graft.merge.GraphMerger.SourceGraph("s", kgNodes, kgEdges)))
      try merged.nodes.collect() finally merged.release()
    }),
    "GraphBundle.finalizeBundle" -> (() => graft.pipeline.GraphBundle.finalizeBundle(
      graft.pipeline.GraphSpec(graphId = "g", sources = Nil), kgNodes, kgEdges,
      Files.createTempDirectory("scope-bundle-").toString)),
    // the failing source is normalized, so it caches its raw nodes; its
    // sibling runs at the same time and completes
    "IngestPipeline.buildGraph" -> (() => graft.pipeline.IngestPipeline.buildGraph(spark,
      graft.pipeline.GraphSpec(graphId = "g", sources = Seq(
        graft.pipeline.GraphSource("ok"), graft.pipeline.GraphSource("bad"))),
      Map("ok" -> new Source("ok", jsonl("""{"id":"N:1","name":"one"}"""), normalized = false),
        "bad" -> new Source("bad", kgNodes, normalized = true)),
      Files.createTempDirectory("scope-build-").toString)))

  private final class Source(val sourceId: String, nodes: DataFrame, normalized: Boolean)
      extends graft.pipeline.IngestPipeline.SourceLoader {
    def parse(s: org.apache.spark.sql.SparkSession): (DataFrame, DataFrame) = (nodes, kgEdges)
    override def nodeNormMapDefined: Boolean = normalized
    override def nodeNormMap(s: org.apache.spark.sql.SparkSession): Option[DataFrame] =
      if (!normalized) None
      else Some(graft.normalize.Normalizer.nodeMapDf(s, Seq("N:1", "N:2").map(id =>
        graft.normalize.Normalizer.NodeNormEntry(id, id))))
  }

  failing.foreach { case (name, run) =>
    test(s"$name leaves no cache behind when an input row fails") {
      val entries = cacheEntries()
      val rdds = persisted()
      val thrown = intercept[Exception](run())
      assert(thrown.getMessage.contains("injected failure"), thrown.getMessage)
      assert(cacheEntries() == entries, "cache-manager entries left registered")
      val left = persisted() -- rdds
      assert(left.isEmpty, s"persisted RDDs left behind: $left")
    }
  }

  /** `path:line: text` for every line of the `.scala` files under `root`
    * that `pattern` finds, skipping the files named in `except`. */
  private def sourceLines(root: Path, pattern: scala.util.matching.Regex,
                          except: Set[String] = Set.empty): List[String] = {
    assert(Files.isDirectory(root), s"run from the repository root: $root missing")
    val files = Files.walk(root)
    try files.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !except(p.getFileName.toString))
      .flatMap { (p: Path) =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if pattern.findFirstIn(line).nonEmpty => s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
    finally files.close()
  }

  test("no cache is persisted or unpersisted by hand outside Lineage") {
    // every cache goes through Scope.cached and every release through
    // Lineage; a new hand-placed persist/cache/unpersist fails here
    val hits = sourceLines(Paths.get("src/main/scala"), """\.(persist|cache|unpersist)\(""".r,
      except = Set("Lineage.scala"))
    assert(hits.isEmpty, hits.mkString("hand-placed caches:\n", "\n", ""))
  }

  test("the build path picks no duplicate with dropDuplicates") {
    // dropDuplicates keeps whichever row reaches its aggregate first, so
    // the row a duplicated id keeps would follow the join strategy and
    // partition layout; the build path picks by input position instead
    val hits = Seq("normalize", "merge", "pipeline", "derive", "io").flatMap(d =>
      sourceLines(Paths.get("src/main/scala/graft", d), """\.dropDuplicates\(""".r))
    assert(hits.isEmpty, hits.mkString("plan-dependent picks:\n", "\n", ""))
  }
}
