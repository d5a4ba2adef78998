package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a pair list — the missing piece between
  * near-dup PAIRS (minhash/simhash/cosine candidates) and dedup DECISIONS:
  * near-duplication is transitive in practice (A≈B, B≈C ⇒ keep one of
  * {A,B,C}), so clusters are the components of the pair graph.
  *
  * Algorithm: alternating large-star / small-star contraction
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14) — converges in O(log n) rounds independent of graph
  * diameter, unlike plain min-label propagation whose round count grows
  * with the longest chain in the pair graph. Each round is two narrow
  * (long, long) shuffles and one [[graft.Lineage.iterate]] generation,
  * whose single action is the convergence aggregate over the round's
  * edges (no extra join, no limit/count job).
  */
object Components {

  /** edges: (id_a, id_b) long columns. Returns (id, component) where
    * component = min id reachable.
    *
    * Two physical paths behind one contract:
    *  - pair set fits in the driver (≤ driverThreshold edges, the same idea
    *    as Spark's broadcast threshold): collect + union-find, O(α) — a
    *    dedup pair graph is usually tiny relative to its corpus;
    *  - otherwise: distributed large-star/small-star contraction. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
                          driverThreshold: Long = 1L << 20): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._

    // canonical big→small directed edges
    val ee = pairs.select(
        greatest(col("id_a").cast("long"), col("id_b").cast("long")).as("u"),
        least(col("id_a").cast("long"), col("id_b").cast("long")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()

    val nEdges = ee.count()
    if (nEdges == 0) return ee.select(col("u").as("id"), col("v").as("component"))
    if (nEdges <= driverThreshold) {
      val out = unionFind(ee) // collects ee to the driver eagerly
      graft.Lineage.release(ee)
      return out
    }

    val last = graft.Lineage.iterate("components", ee, maxIter, (-1L, -1L))((ee, _, _) => {
      // large-star: for every node u, attach each LARGER neighbor v to
      // m = min(Γ(u) ∪ {u}); preserves connectivity, shrinks tall chains
      val nbrs = ee.unionByName(ee.select(col("v").as("u"), col("u").as("v")))
      val mins = nbrs.groupBy(col("u")).agg(min(col("v")).as("mn"))
      val ls = nbrs.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), least(col("mn"), col("u")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      // small-star: connect u and all its (smaller) out-neighbors to the
      // minimum of that set — produces stars rooted at local minima
      val ssMin = ls.groupBy(col("u")).agg(min(col("v")).as("mn"))
      ls.join(ssMin, "u")
        .select(explode(array(
          struct(col("u").as("a"), col("mn").as("b")),
          struct(col("v").as("a"), col("mn").as("b")))).as("e"))
        .select(col("e.a").as("u"), col("e.b").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    },
    // convergence signature: one scan of the round's edges, which fills
    // its checkpoint — (count, xor-of-hashes) is order-independent,
    // overflow-free (ANSI safe) and equal ⇔ same distinct edge set
    observe = ss => ss.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))"))
      .as[(Long, Option[Long])].first() match { case (c, h) => (c, h.getOrElse(0L)) },
    until = _ == _)
    last.select(col("u").as("id"), col("v").as("component"))
      .unionByName(last.select(col("v").as("id"), col("v").as("component")))
      .distinct()
  }

  /** Driver-side union-find over a bounded, already-deduped edge list.
    * Union-by-min keeps the smallest id as the root, so the root IS the
    * component label the distributed path would produce. */
  private def unionFind(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val es = edges.as[(Long, Long)].collect()
    val parent = new java.util.HashMap[Long, Long](es.length * 2)
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
      // path compression
      var c = x
      while (parent.getOrDefault(c, c) != r) { val n = parent.getOrDefault(c, c); parent.put(c, r); c = n }
      r
    }
    es.foreach { case (u, v) =>
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) { if (ru < rv) parent.put(rv, ru) else parent.put(ru, rv) }
    }
    val ids = es.iterator.flatMap { case (u, v) => Iterator(u, v) }.toSet
    val mapped = ids.toSeq.map(id => (id, find(id)))
    // re-distribute via parallelize with explicit slicing: a LocalRelation
    // + repartition ships the whole mapping through task closures (the
    // "task of very large size" warning at big-but-under-threshold pair
    // sets) AND pays an exchange; pre-sliced parallelize ships each task
    // only its ~20k-row slice and needs no shuffle. Worst case at the
    // 1M-edge threshold (~2M ids) stays ~320 KiB/task.
    val slices = math.max(spark.sparkContext.defaultParallelism,
      mapped.size / 20000 + 1)
    spark.createDataset(spark.sparkContext.parallelize(mapped, slices))
      .toDF("id", "component")
  }

  /** Full dedup decision: given docs + near-dup pairs, pick the minimum id
    * of each component as canonical; docs in no pair map to themselves. */
  def canonicalize(docIds: DataFrame /* id */, pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(pairs)
    docIds.select(col("id").cast("long").as("id"))
      .join(comps, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("canonical_id"))
      .withColumn("is_duplicate", col("id") =!= col("canonical_id"))
  }
}
