package graft.sim

import graft.SparkSpec

class KCenterSpec extends SparkSpec {
  import spark.implicits._

  // three far-apart blobs plus the seed's own blob — greedy must visit
  // each blob before refining within one
  private val pts = Seq(
    (1L, Seq(0L, 0L)), (2L, Seq(1L, 0L)),
    (10L, Seq(100L, 0L)), (11L, Seq(101L, 0L)),
    (20L, Seq(0L, 100L)), (21L, Seq(1L, 100L))
  ).toDF("id", "x")

  private def centers(k: Int): Seq[(Int, Long, Long)] =
    KCenter.select(pts, k, dims = 2).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)

  test("greedy farthest-point covers every blob before refining one") {
    val c = centers(3)
    assert(c.head == ((1, 1L, 0L))) // seed = smallest id, d2 = 0
    val blobs = c.map(_._2).map {
      case i if i < 10 => "a"; case i if i < 20 => "b"; case _ => "c"
    }
    assert(blobs.toSet.size == 3)
  }

  test("d2 sequence is the non-increasing covering radius") {
    val ds = centers(5).map(_._3)
    assert(ds.head == 0L)
    assert(ds.tail.zip(ds.tail.tail).forall { case (a, b) => a >= b })
  }

  test("duplicate embeddings: chosen centers leave the pool, co-located points follow at d2=0") {
    // 2 distinct coordinate vectors, k=4: once the covering radius hits 0
    // the remaining co-located points must be selected (each id once),
    // never a repeat of an already-chosen id
    val dup = Seq((1L, Seq(0L)), (2L, Seq(0L)), (3L, Seq(10L)), (4L, Seq(10L)))
      .toDF("id", "x")
    val c = KCenter.select(dup, k = 4, dims = 1).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)
    assert(c.map(_._2) == Seq(1L, 3L, 2L, 4L)) // seed, farthest, then dup fills (min id first)
    assert(c.map(_._2).distinct.size == 4)
    assert(c.drop(2).forall(_._3 == 0L))
  }

  test("k exceeding the point count stops early instead of throwing") {
    val tiny = Seq((1L, Seq(0L)), (2L, Seq(5L))).toDF("id", "x")
    val c = KCenter.select(tiny, k = 5, dims = 1).collect()
    assert(c.map(_.getLong(1)).toSet == Set(1L, 2L))
  }

  test("argmax ties break to the smallest id") {
    // two points equidistant from the seed
    val sym = Seq((1L, Seq(0L)), (5L, Seq(10L)), (9L, Seq(-10L))).toDF("id", "x")
    val c = KCenter.select(sym, k = 2, dims = 1).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(c(2) == 5L)
  }

  test("large k across lineage cuts matches the sequential reference exactly") {
    // k = 150 steps, each a checkpointed generation: the selection sequence
    // must match the sequential greedy, and select must free every
    // generation it made. Suites run one at a time in the forked test JVM
    // and the ContextCleaner only ever removes entries: compare id sets.
    def persisted() = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val n = 160
    // deterministic scatter: x = (i*37 % 211, i*53 % 199) — no two points
    // coincide, ids 0..159
    val data = (0L until n.toLong).map(i => (i, Seq(i * 37 % 211, i * 53 % 199)))
    val before = persisted()
    val got = KCenter.select(data.toDF("id", "x"), k = 150, dims = 2).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)
    val left = persisted() -- before
    assert(left.isEmpty, s"RDDs created by select still persisted: $left")

    // sequential greedy reference: same seed, argmax(dmin) ties to min id
    val xs = data.toMap
    def d2(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (p, q) => (p - q) * (p - q) }.sum
    var remaining = data.map(_._1).toSet - 0L
    var dmin = remaining.map(i => i -> d2(xs(i), xs(0L))).toMap
    var expected = List((1, 0L, 0L))
    var rank = 2
    while (rank <= 150 && remaining.nonEmpty) {
      val best = remaining.maxBy(i => (dmin(i), -i))
      expected ::= ((rank, best, dmin(best)))
      remaining -= best
      dmin = remaining.map(i => i -> math.min(dmin(i), d2(xs(i), xs(best)))).toMap
      rank += 1
    }
    assert(got == expected.reverse)
  }
}
