package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative breadth-first expansion over an edge table — the
  * DataFrame-native replacement for a Pregel superstep loop. Each level
  * is one equi-join of the current frontier against the edge list plus
  * an anti-join against the visited set; Catalyst plans every level
  * independently (AQE sizes the shuffles, and a small frontier is
  * broadcast automatically).
  *
  * Scale shape: the edge table is hash-partitioned by `src` and
  * deduplicated in ONE exchange ([[Edges.directed]]) and persisted, so
  * every level's join shuffles only the frontier (≤ the reachable set)
  * against co-located edges. Each level persists ONLY its
  * own fragment (the newly reached nodes) and materializes it with a
  * single `count()` — the action that decides termination is the same
  * one that fills the cache, so there is no separate emptiness probe and
  * no per-level rewrite of the whole visited set (the visited relation
  * is the union of the cached per-level fragments: total cache traffic
  * O(V) across the run instead of O(V·depth)). Fragment persistence cuts
  * lineage per level, keeping plan depth linear in `maxDepth`. For
  * unbounded-depth closures at 100 TB, checkpoint every ~10 levels to
  * truncate lineage entirely.
  */
object Bfs {

  /** Collapses a plan into one eagerly-materialized relation with lineage
    * truncated. Uses a RELIABLE `checkpoint()` when the context has a
    * checkpoint dir configured — the result then survives executor loss,
    * which a long-lived cluster job needs. Without one it falls back to
    * `localCheckpoint()`, whose blocks live non-reliably on executors: an
    * executor loss after return makes the result unrecomputable, and the
    * cached blocks are released only when the driver GCs the returned
    * DataFrame. Callers needing fault tolerance on a checkpoint-dir-less
    * session must re-persist (or write out) the result themselves. */
  private def collapse(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  /** The reliable-checkpoint file backing `df`, when [[collapse]] took the
    * `checkpoint()` branch (None on the localCheckpoint fallback). The
    * checkpointed RDD sits one or two map-dependencies below the
    * DataFrame's execution RDD; checkpoint() is eager, so the file exists
    * by the time this is called. */
  private def checkpointFile(df: DataFrame): Option[String] = {
    def find(rdd: org.apache.spark.rdd.RDD[_], depth: Int): Option[String] =
      rdd.getCheckpointFile.orElse(
        if (depth >= 4) None
        else rdd.dependencies.iterator.map(d => find(d.rdd, depth + 1))
          .collectFirst { case Some(p) => p })
    find(df.queryExecution.toRdd, 0)
  }

  /** Best-effort recursive delete of a superseded checkpoint. Reliable
    * checkpoint files are NOT removed by Spark when an RDD is rebased off
    * them (and by the ContextCleaner only under
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true`, off by
    * default) — without this, every collapse in a long [[closure]] run
    * leaves a full copy of the accumulated relation on disk, unbounded
    * checkpoint-dir growth on exactly the long-lived drivers reliable
    * checkpointing targets. Deletion failure is a space leak, never a
    * correctness problem, so errors are swallowed. */
  private def deleteCheckpoint(df: DataFrame, path: String): Unit =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
        .delete(p, true)
    } catch { case _: Throwable => () }

  /** Minimum-depth reachability: returns (node, depth) for every node
    * reachable from `seeds` in at most `maxDepth` hops, where depth is
    * the BFS level (seeds are depth 0). `edges` must have `src`/`dst`
    * string columns; `seeds` a `node` column. */
  def reach(edges: DataFrame, seeds: DataFrame, maxDepth: Int): DataFrame = graft.Lineage.scoped { scope =>
    val e = scope.cached(Edges.directed(edges))
    val seed = scope.cached(seeds.select(col("node")).distinct()
      .withColumn("depth", lit(0)))
    var fragments = List(seed) // one cached fragment per level, newest first
    var visited = seed.select(col("node"))
    var frontier = seed.select(col("node"))
    var level = 0
    var done = false
    while (level < maxDepth && !done) {
      level += 1
      // aliases: after level 1 the frontier derives from `e`, so attribute
      // references would be ambiguous in the self-join without them
      val next = scope.cached(frontier.alias("f")
        .join(e.alias("e"), col("f.node") === col("e.src"))
        .select(col("e.dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .withColumn("depth", lit(level)))
      if (next.count() == 0L) { scope.release(next); done = true }
      else {
        fragments = next :: fragments
        visited = visited.unionByName(next.select(col("node")))
        frontier = next.select(col("node"))
      }
    }
    scope.release(e)
    // collapse the fragment union into ONE eagerly-materialized relation;
    // the scope then releases every per-level fragment, so repeated
    // invocations (bench loops, long-lived drivers) accumulate no cached
    // blocks. The localCheckpoint fallback's blocks are released by the
    // ContextCleaner when the returned DataFrame is garbage-collected; a
    // RELIABLE checkpoint's files are caller-owned and cleaned on GC
    // only under spark.cleaner.referenceTracking.cleanCheckpoints=true
    // (graft.Sessions sets it)
    collapse(fragments.reverse.reduce(_ unionByName _))
  }

  /** Unbounded reachability (transitive closure with min depth): runs
    * until the frontier drains, so the level count is data-dependent.
    * Per-level mechanics are identical to [[reach]]; the difference is
    * lineage management at unbounded depth — the union-of-fragments
    * relation grows one cached fragment per level, and after hundreds of
    * levels the logical plan itself (and the anti-join's ever-longer
    * union) becomes the bottleneck. Every `checkpointEvery` levels the
    * accumulated (node, depth) relation is collapsed into a single
    * checkpointed relation (see [[collapse]]), the fragments released, and the
    * frontier re-derived from the collapsed relation — plan depth is
    * thereby bounded by `checkpointEvery` regardless of graph diameter,
    * which is what a 100 TB closure over a deep hierarchy needs. */
  def closure(edges: DataFrame, seeds: DataFrame,
              checkpointEvery: Int = 10): DataFrame = graft.Lineage.scoped { scope =>
    require(checkpointEvery >= 1, "checkpointEvery must be >= 1")
    val e = scope.cached(Edges.directed(edges))
    val seed = scope.cached(seeds.select(col("node")).distinct()
      .withColumn("depth", lit(0)))
    var acc = seed // union of all levels since the last collapse
    var fragments = List(seed) // cached fragments backing `acc`
    var prevCkptFile: Option[String] = None // superseded reliable-checkpoint file
    var visited = seed.select(col("node"))
    var frontier = seed.select(col("node"))
    var level = 0
    var done = false
    while (!done) {
      level += 1
      val next = scope.cached(frontier.alias("f")
        .join(e.alias("e"), col("f.node") === col("e.src"))
        .select(col("e.dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .withColumn("depth", lit(level)))
      if (next.count() == 0L) { scope.release(next); done = true }
      else {
        fragments = next :: fragments
        acc = acc.unionByName(next)
        visited = visited.unionByName(next.select(col("node")))
        frontier = next.select(col("node"))
        if (level % checkpointEvery == 0) {
          // collapse: one checkpointed relation replaces the fragment
          // union, truncating lineage AND bounding the anti-join's plan
          val collapsed = collapse(acc) // eager — safe to release
          fragments.foreach(scope.release)
          fragments = Nil
          // the new checkpoint fully materialized its own copy, so the
          // PREVIOUS collapse's files (read by every level since) are
          // now unreferenced — delete them, or each collapse leaves a
          // whole accumulated-relation copy on disk for the run's life
          prevCkptFile.foreach(deleteCheckpoint(collapsed, _))
          prevCkptFile = checkpointFile(collapsed)
          acc = collapsed
          visited = collapsed.select(col("node"))
          frontier = collapsed.filter(col("depth") === level)
            .select(col("node"))
        }
      }
    }
    scope.release(e)
    // final collapse: same release discipline as [[reach]] — fragments
    // since the last checkpoint are folded into one materialized relation
    // and released with the scope, so nothing stays pinned across
    // invocations. The final checkpoint's files are caller-owned (see
    // [[reach]]); every intermediate collapse's files were deleted when
    // superseded, and the LAST intermediate one is deleted here once the
    // final copy exists.
    val result = collapse(acc)
    prevCkptFile.foreach(deleteCheckpoint(result, _))
    result
  }
}
