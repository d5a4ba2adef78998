package perfbench

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Every workload at a tiny scale: its checks pass, every timed write
  * writes every column of the layer's result, nothing it persists
  * outlives a pass, and the traced kg_build composition builds the same
  * bundle as one `buildGraph` call. */
class WorkloadsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark: SparkSession = graft.Sessions.local("2")
  private val root = {
    Files.createDirectories(Files2.path(System.getProperty("java.io.tmpdir")))
    Files.createTempDirectory("perfbench-spec")
  }

  override def afterAll(): Unit = {
    spark.stop()
    Files2.deleteRecursively(root)
  }

  private val tiny = Seq(
    KgBuild(concepts = 200),
    NearDup(docs = 400),
    GraphIter(edges = 1L << 12, ccDriverThreshold = 1L << 10),
    AnnSearch(corpus = 300, queries = 4))

  /** Set up, then run an untraced and a traced pass with write recording. */
  private def passes(wl: Workload) = {
    val runner = new Main.Runner(spark, wl, root.resolve(wl.name))
    runner.generate(seed = 7L, i = 1)
    runner.probe.recordWrites = true
    val logs = Seq(false, true).zipWithIndex.map { case (traced, i) =>
      var log = Seq.empty[Materialized]
      val rec = runner.runPass(i, traced, ctx => log = ctx.materialized.toSeq)
      (rec, log)
    }
    runner.inputs.release()
    logs
  }

  for (wl <- tiny) test(s"${wl.name}: checks pass, writes are full, nothing leaks") {
    val logs = passes(wl)
    val recs = logs.map(_._1)
    recs.foreach { r =>
      assert(r.failures.isEmpty, s"pass ${r.id}")
      assert(r.leaked == 0, s"pass ${r.id} left persisted RDDs or checkpoint files")
    }
    // every frame a library call returned is written in full by a write
    // plan that runs after it in the same pass
    assert(logs.exists(_._2.exists(_.isInstanceOf[Returned])), "no library result noted")
    for ((rec, log) <- logs; (Returned(layer, cols), i) <- log.zipWithIndex)
      assert(log.drop(i + 1).exists { case Written(_, w) => cols.toSet.subsetOf(w.toSet); case _ => false },
        s"pass ${rec.id}: no write after $layer outputs all of ${cols.mkString(", ")}; " +
          s"writes: ${log.collect { case w: Written => w }}")
    val traced = recs.find(_.traced).get
    assert(wl.layers.forall(traced.layers.contains), s"layers seen: ${traced.layers.keySet}")
    assert(traced.uncoveredS >= 0.0 && traced.uncoveredS < 0.1 * traced.wallS)
  }

  test("kg_build: the traced composition builds the same bundle as buildGraph") {
    val kg = KgBuild(concepts = 200)
    val in = kg.generate(spark, 11L, root.resolve("kg-compose-in").toString).asInstanceOf[kg.KgInputs]
    val probe = new Probe(spark)
    val whole = graft.pipeline.IngestPipeline.buildGraph(spark, kg.spec, in.loaders,
      root.resolve("kg-whole").toString)
    val parts = in.composed(new Ctx(spark, root.resolve("kg-parts").toString, traced = true, probe),
      root.resolve("kg-parts").toString)
    assert((parts.nodeCount, parts.edgeCount) == (whole.nodeCount, whole.edgeCount))
    assert((whole.nodeCount, whole.edgeCount) == (in.expected.nodes, in.expected.edges))
    in.release()
  }
}
