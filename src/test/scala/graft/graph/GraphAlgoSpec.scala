package graft.graph

import graft.{Observe, SparkSpec}
import graft.dedup.Components
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

class GraphAlgoSpec extends SparkSpec {
  import spark.implicits._

  //  a → b → c → d,  a → c,  e isolated-source → f
  private lazy val edges = Seq(
    ("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("e", "f")
  ).toDF("src", "dst")

  test("bfs reach: min depth wins when multiple paths exist") {
    val seeds = Seq("a").toDF("node")
    val out = Bfs.reach(edges, seeds, maxDepth = 3)
      .as[(String, Int)].collect().toMap
    assert(out === Map("a" -> 0, "b" -> 1, "c" -> 1, "d" -> 2))
  }

  test("bfs reach: depth bound cuts the walk") {
    val seeds = Seq("a").toDF("node")
    val out = Bfs.reach(edges, seeds, maxDepth = 1)
      .as[(String, Int)].collect().toMap
    assert(out === Map("a" -> 0, "b" -> 1, "c" -> 1))
  }

  test("bfs reach: early-exit when the frontier drains before maxDepth") {
    val seeds = Seq("e").toDF("node")
    val out = Bfs.reach(edges, seeds, maxDepth = 10)
      .as[(String, Int)].collect().toMap
    assert(out === Map("e" -> 0, "f" -> 1))
  }

  test("bfs reach/closure release their per-level caches on return") {
    // repeated invocations (bench loops, long-lived drivers) must not
    // accumulate cached blocks: each call may leave at most its ONE
    // materialized result relation behind (released when GC'd), never
    // the per-level fragments (the old shape leaked depth+2 per call)
    val seeds = Seq("a").toDF("node")
    def persisted() = spark.sparkContext.getPersistentRDDs.size
    val before = persisted()
    (1 to 3).foreach { _ =>
      assert(Bfs.reach(edges, seeds, maxDepth = 3).count() == 4)
      assert(Bfs.closure(edges, seeds, checkpointEvery = 2).count() == 4)
    }
    // 6 invocations × ≥3 levels would leak ≥18 fragments in the old
    // shape; now only the 6 result checkpoints (at most) remain pending GC
    assert(persisted() - before <= 6, s"cached RDDs grew: $before -> ${persisted()}")
  }

  test("iterative loops eagerly free superseded checkpoint generations") {
    // localCheckpoint made the per-iteration unpersist() a no-op (a
    // checkpointed frame is not in the cache manager), so every superseded
    // generation's blocks used to stay resident until driver GC +
    // ContextCleaner — peak storage grew with the iteration budget (the
    // r15 ADVICE finding). Lineage.iterate frees the superseded generation
    // eagerly, and with zero iterations hands back its seed checkpointed
    // and released: each run below may leave only its result's blocks,
    // which the caller owns and frees here.
    def persisted() = spark.sparkContext.getPersistentRDDs.keySet.toSet
    def free(result: DataFrame): Long = {
      val n = result.count()
      result.queryExecution.analyzed.foreach {
        case l: LogicalRDD => l.rdd.unpersist(blocking = false)
        case _ =>
      }
      n
    }
    val seeds = Seq("a").toDF("node")
    val ord = (n: Column) => pmod(xxhash64(n), lit(1000003L))
    val before = persisted()
    Seq(6, 0).foreach { n =>
      assert(free(PageRank.run(edges, iterations = n)) == 6)
      assert(free(KCore.run(edges, k = 1, rounds = n)) == 6)
      assert(free(LabelPropagation.run(edges, iterations = n)) == 6)
      assert(free(ShortestPaths.run(edges.withColumn("w", lit(1L)), seeds, rounds = n))
        == (if (n == 0) 1 else 4))
      assert(free(Walks.run(edges, seeds, steps = n, ord)) == 1)
    }
    // 5 runs × ≥4 iterations would strand ≥20 generations in the old
    // shape, and PageRank with no iterations left its persisted seed in the
    // cache manager. Suites run one at a time in the forked test JVM, and
    // the ContextCleaner only ever removes entries: compare id sets.
    val left = persisted() -- before
    assert(left.isEmpty, s"superseded generations or seeds not freed: $left")
  }

  test("iterative operators run a pinned number of jobs at 3 iterations") {
    // each generation is one lazy checkpoint filled by one action; a change
    // to how generations are cut or materialized shows up here as a count
    val sc = spark.sparkContext
    def jobsOf(run: => Long): Int = {
      val group = s"job-pin-${java.util.UUID.randomUUID()}"
      sc.setJobGroup(group, group)
      try Observe.measure(spark)(run)._2.jobs.count(_.group.contains(group))
      finally sc.clearJobGroup()
    }
    val seeds = Seq("a").toDF("node")
    val ids = edges.select(ascii(col("src")).cast("long").as("id_a"),
      ascii(col("dst")).cast("long").as("id_b"))
    val jobs = Map(
      "pagerank" -> jobsOf(PageRank.run(edges, iterations = 3).count()),
      "kcore" -> jobsOf(KCore.run(edges, k = 1, rounds = 3).count()),
      "label_prop" -> jobsOf(LabelPropagation.run(edges, iterations = 3).count()),
      "sssp" -> jobsOf(ShortestPaths.run(edges.withColumn("w", lit(1L)), seeds, rounds = 3)
        .count()),
      "walks" -> jobsOf(Walks.run(edges, seeds, steps = 3,
        n => pmod(xxhash64(n), lit(1000003L))).count()),
      "components" -> jobsOf(Components.connectedComponents(ids, maxIter = 3,
        driverThreshold = 0L).count()))
    assert(jobs === Map("pagerank" -> 33, "kcore" -> 23, "label_prop" -> 21, "sssp" -> 21,
      "walks" -> 19, "components" -> 23))
  }

  test("bfs reach/closure use a RELIABLE checkpoint when a dir is configured") {
    // with a checkpoint dir the collapsed result must be written there
    // (survives executor loss — the localCheckpoint fallback doesn't),
    // and results must be identical either way
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("bfs-ckpt-").toString
    sc.setCheckpointDir(dir)
    try {
      val seeds = Seq("a").toDF("node")
      val viaReliable = Bfs.reach(edges, seeds, maxDepth = 3)
        .as[(String, Int)].collect().toMap
      assert(viaReliable === Map("a" -> 0, "b" -> 1, "c" -> 1, "d" -> 2))
      assert(Bfs.closure(edges, seeds, checkpointEvery = 2)
        .as[(String, Int)].collect().toMap === viaReliable)
      def ckptFiles(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(ckptFiles).sum else 1L
      assert(ckptFiles(new java.io.File(dir)) > 0, "no reliable checkpoint written")
    } finally {
      // the session is JVM-shared across suites and SparkContext has no
      // public unset — restore via the private[spark] var's setter
      sc.getClass.getMethod("checkpointDir_$eq", classOf[Option[String]])
        .invoke(sc, None)
    }
  }

  test("bfs closure deletes superseded intermediate reliable checkpoints") {
    // every collapse used to leave a full copy of the accumulated relation
    // in the checkpoint dir for the life of the driver (cleanCheckpoints
    // defaults to false) — unbounded growth on exactly the long-lived
    // jobs reliable checkpointing targets. A superseded collapse's files
    // must be deleted once the next checkpoint materializes; only the
    // final (caller-owned) checkpoint may remain.
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("bfs-ckpt-gc-").toString
    sc.setCheckpointDir(dir)
    try {
      def rddDirs(f: java.io.File): Seq[java.io.File] =
        if (!f.isDirectory) Nil
        else if (f.getName.startsWith("rdd-")) Seq(f)
        else Option(f.listFiles()).toSeq.flatten.flatMap(rddDirs)
      val before = rddDirs(new java.io.File(dir)).size
      val chain = (0 until 6).map(i => (s"n$i", s"n${i + 1}")).toDF("src", "dst")
      val out = Bfs.closure(chain, Seq("n0").toDF("node"), checkpointEvery = 1)
      assert(out.count() == 7)
      // 7 collapses ran (checkpointEvery=1 over 6 levels + the final one);
      // the leak being pinned is "every intermediate left behind" (+6).
      // Suites share this SparkContext concurrently, so ANOTHER suite's
      // Bfs call landing in this window may add its own final checkpoint —
      // allow a small delta instead of asserting an exact count of 1.
      val delta = rddDirs(new java.io.File(dir)).size - before
      assert(delta <= 2,
        s"superseded checkpoints not deleted: $delta rdd-* dirs remain after closure")
    } finally {
      sc.getClass.getMethod("checkpointDir_$eq", classOf[Option[String]])
        .invoke(sc, None)
    }
  }

  test("pagerank: ranks sum to 1 and sinks accumulate more than sources") {
    val ranks = PageRank.run(edges, iterations = 10)
      .as[(String, Double)].collect().toMap
    assert(math.abs(ranks.values.sum - 1.0) < 1e-9)
    // d collects mass from the a→…→d chain; a only gets the uniform floor
    assert(ranks("d") > ranks("a"))
    assert(ranks("c") > ranks("b")) // two in-links vs one
  }

  test("pagerank: uniform rank on a symmetric cycle") {
    val cycle = Seq(("x", "y"), ("y", "z"), ("z", "x")).toDF("src", "dst")
    val ranks = PageRank.run(cycle, iterations = 7)
      .as[(String, Double)].collect().toMap
    ranks.values.foreach(r => assert(math.abs(r - 1.0 / 3) < 1e-12))
  }

  //  K4 on {p,q,r,s} (4 triangles per definition) plus a pendant edge s→t
  private lazy val k4 = Seq(
    ("p", "q"), ("p", "r"), ("p", "s"), ("q", "r"), ("q", "s"), ("r", "s"),
    ("s", "t")
  ).toDF("src", "dst")

  test("triangles: K4 yields its 4 triangles, each corner in 3") {
    val tri = Triangles.triangles(k4).as[(String, String, String)].collect().toSet
    assert(tri === Set(("p", "q", "r"), ("p", "q", "s"), ("p", "r", "s"), ("q", "r", "s")))
    val per = Triangles.perNode(k4).as[(String, Long)].collect().toMap
    assert(per === Map("p" -> 3L, "q" -> 3L, "r" -> 3L, "s" -> 3L)) // t: none
  }

  test("triangles: duplicate, reversed, and self-loop edges don't change the count") {
    val noisy = k4.unionAll(Seq(("q", "p"), ("p", "p"), ("p", "q")).toDF("src", "dst"))
    assert(Triangles.triangles(noisy).count() === 4)
  }

  test("triangles: a triangle-free graph (star) yields zero rows") {
    val star = Seq(("h", "x"), ("h", "y"), ("h", "z")).toDF("src", "dst")
    assert(Triangles.perNode(star).count() === 0)
  }

  test("label propagation: converges to per-component min label") {
    //  two components: {a,b,c,d} (min a) and {e,f} (min e); diameter 3 → 3 iters
    val lbl = LabelPropagation.run(edges, iterations = 3)
      .as[(String, String)].collect().toMap
    assert(lbl === Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a",
      "e" -> "e", "f" -> "e"))
  }

  test("label propagation: a single superstep only reaches direct neighbours") {
    val chain = Seq(("1", "2"), ("2", "3"), ("3", "4")).toDF("src", "dst")
    val lbl = LabelPropagation.run(chain, iterations = 1)
      .as[(String, String)].collect().toMap
    assert(lbl === Map("1" -> "1", "2" -> "1", "3" -> "2", "4" -> "3"))
  }

  test("neighborhood jaccard: exact ratios and the s1<s2 canonical order") {
    val bip = Seq(
      (1L, 10L), (1L, 11L), (1L, 12L),          // deg(1)=3
      (2L, 10L), (2L, 11L), (2L, 12L), (2L, 13L), // deg(2)=4, ∩(1,2)=3
      (3L, 13L)                                  // deg(3)=1, ∩(2,3)=1
    ).toDF("src", "feat")
    val out = NodeSimilarity.jaccard(bip, minCommon = 2)
      .as[(Long, Long, Long, Double)].collect()
    assert(out.toSeq === Seq((1L, 2L, 3L, 0.75))) // 3/(3+4-3); (2,3) below minCommon
  }

  test("neighborhood jaccard: hot features above maxFeatureDeg are ignored") {
    val bip = Seq(
      (1L, 99L), (2L, 99L), (3L, 99L),  // feature 99 touches everyone → dropped
      (1L, 10L), (2L, 10L), (1L, 11L), (2L, 11L)
    ).toDF("src", "feat")
    val out = NodeSimilarity.jaccard(bip, minCommon = 2, maxFeatureDeg = 2)
      .as[(Long, Long, Long, Double)].collect()
    assert(out.toSeq === Seq((1L, 2L, 2L, 1.0))) // only feats 10,11 survive
  }
}
