package graft.sim

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class PqSpec extends SparkSpec {

  private lazy val emb = graft.Tables.embeddings(spark, sf)

  test("train produces m codebooks of k subDim-sized centroids, deterministically") {
    val a = Pq.train(emb, m = 8, k = 16)
    val b = Pq.train(emb, m = 8, k = 16)
    assert(a.m == 8 && a.k == 16 && a.subDim == 8)
    assert(a.centroids.length == 8 && a.centroids.forall(_.length == 16))
    assert(a.centroids.flatten.flatten.toSeq == b.centroids.flatten.flatten.toSeq)
    intercept[IllegalArgumentException] { Pq.train(emb, m = 7) } // 64 % 7 != 0
  }

  test("train's driver actions run as \"pq: train\", and the caller's description comes back") {
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    try {
      val (_, report) = graft.Observe.measure(spark)(Pq.train(emb, m = 8, k = 16))
      assert(report.jobs.nonEmpty)
      assert(report.jobs.map(_.description).distinct == Seq("pq: train"))
      assert(sc.getLocalProperty("spark.job.description") == "caller")
    } finally sc.setJobDescription(null)
  }

  test("encode emits m codes in [0, k)") {
    val index = Pq.train(emb, m = 8, k = 16)
    val codes = emb.select(Pq.encode(col("embedding"), index).as("c"))
      .collect().map(_.getSeq[Int](0))
    assert(codes.forall(c => c.length == 8 && c.forall(x => x >= 0 && x < 16)))
  }

  test("adcTopK excludes self, returns k rows per query, near-agrees with exact dot") {
    val index = Pq.train(emb, m = 8, k = 16)
    val queries = emb.filter(col("vec_id") < 20)
    val top = Pq.adcTopK(queries, emb, index, k = 5)
    val rows = top.collect()
    assert(rows.length == 20 * 5)
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
    val exact = Similarity.exactDotTopK(queries, emb, k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val overlap = exact.join(top.select(col("query_id"), col("neighbor_id")),
      Seq("query_id", "neighbor_id")).count()
    // 32-bit codes are VERY lossy; require better-than-chance structure,
    // the exact operating figure is pinned by the q66 oracle
    assert(overlap >= 20, s"pq/exact top-5 overlap too low: $overlap/100")
  }

  /** Plain-Scala ADC with the arithmetic `Pq` promises: float products
    * summed in double from 0.0, left to right, over the part of a subvector
    * the vector has; a code is the first index of the largest
    * x·c − ‖c‖²/2; a pair's score sums its query's table entries in
    * subspace order; a null vector has null codes and null scores. */
  private object ScalarAdc {
    private def dot(v: Array[Float], from: Int, c: Array[Float]): Double = {
      val n = math.max(0, math.min(c.length, v.length - from))
      var acc = 0.0; var i = 0
      while (i < n) { acc += v(from + i).toDouble * c(i).toDouble; i += 1 }
      acc
    }

    /** SQL ordering of doubles: NaN above everything, −0.0 equal to 0.0. */
    private def cmp(a: Double, b: Double): Int = if (a == b) 0 else java.lang.Double.compare(a, b)

    def codes(index: Pq.PqIndex, v: Array[Float]): Seq[Option[Int]] =
      (0 until index.m).map { s =>
        Option(v).map { v =>
          val cs = index.centroids(s)
          val scores = cs.map(c => dot(v, s * index.subDim, c) - c.map(x => x.toDouble * x).sum / 2.0)
          scores.indices.foldLeft(0)((best, c) => if (cmp(scores(c), scores(best)) > 0) c else best)
        }
      }

    def table(index: Pq.PqIndex, q: Array[Float]): Option[Array[Array[Double]]] =
      Option(q).map(q => Array.tabulate(index.m)(s =>
        index.centroids(s).map(c => dot(q, s * index.subDim, c))))

    def score(t: Option[Array[Array[Double]]], code: Seq[Option[Int]]): Option[Double] =
      t.filter(_ => code.forall(_.isDefined)).map { t =>
        val cs = code.flatten
        cs.indices.tail.foldLeft(t(0)(cs(0)))((acc, s) => acc + t(s)(cs(s)))
      }

    private def round6(x: Double): Double = math.floor(x * 1e6 + 0.5).toLong.toDouble / 1e6

    /** (query_id, neighbor_id, rank, rounded score) in `adcTopK`'s order:
      * score descending with nulls last, then neighbor id. */
    def topK(index: Pq.PqIndex, corpus: Seq[(Long, Array[Float])],
             queries: Seq[(Long, Array[Float])], k: Int): Seq[(Long, Long, Int, Option[Double])] = {
      val coded = corpus.map { case (id, v) => id -> codes(index, v) }
      val order = Ordering.fromLessThan[(Long, Option[Double])] { case ((ia, a), (ib, b)) =>
        (a, b) match {
          case (Some(x), Some(y)) if cmp(x, y) != 0 => cmp(x, y) > 0
          case (Some(_), None) => true
          case (None, Some(_)) => false
          case _ => ia < ib
        }
      }
      queries.flatMap { case (qid, q) =>
        val t = table(index, q)
        coded.collect { case (id, c) if id != qid => (id, score(t, c)) }
          .sorted(order).take(k).zipWithIndex
          .map { case ((id, s), r) => (qid, id, r + 1, s.map(round6)) }
      }.sortBy(r => (r._1, r._3))
    }
  }

  private val schema = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))

  private def frame(rows: Seq[(Long, Array[Float])]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (id, v) => Row(id, Option(v).map(_.toSeq).orNull) }, 3), schema)

  private def local(df: DataFrame): Seq[(Long, Array[Float])] =
    df.select(col("vec_id"), col("embedding")).collect().toSeq
      .map(r => (r.getLong(0), Option(r.getSeq[Float](1)).map(_.toArray).orNull))

  private def sparkCodes(index: Pq.PqIndex, corpus: DataFrame): Map[Long, Seq[Option[Int]]] =
    corpus.select(col("vec_id"), Pq.encode(col("embedding"), index)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Any](1).map { case null => None; case c: Int => Some(c) })
      .toMap

  private def assertScalarAdc(index: Pq.PqIndex, corpus: DataFrame, queries: DataFrame, k: Int): Unit = {
    val rows = local(corpus)
    assert(sparkCodes(index, corpus) == rows.map { case (id, v) => id -> ScalarAdc.codes(index, v) }.toMap)
    val got = Pq.adcTopK(queries, corpus, index, k).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), Option(r.get(3)).map(_.asInstanceOf[Double])))
      .sortBy(r => (r._1, r._3))
    val want = ScalarAdc.topK(index, rows, local(queries), k)
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) => assert(g == w, s"adcTopK row $g, scalar ADC $w") }
  }

  /** Rows outside what `train` sees: a null embedding and one shorter than
    * m·subDim (its later subspaces are partial or empty). */
  private def odd(dim: Int): Seq[(Long, Array[Float])] = Seq(
    (900001L, null),
    (900002L, Array.tabulate(10)(i => 0.1f * (i + 1))),
    (900003L, Array.fill(dim)(0.25f)))

  test("encode and adcTopK equal a plain-Scala ADC on the embeddings plus odd rows") {
    val index = Pq.train(emb, m = 8, k = 16)
    val corpus = emb.select(col("vec_id"), col("embedding")).unionByName(frame(odd(64)))
    val queries = corpus.filter(col("vec_id") < 15 || col("vec_id") >= 900000L)
    assertScalarAdc(index, corpus, queries, k = 10)
  }

  test("a corpus smaller than k trains short codebooks, and ADC still equals the scalar") {
    val tiny = emb.filter(col("vec_id") < 5)
    val index = Pq.train(tiny, m = 8, k = 16)
    assert(index.centroids.forall(_.length == 5))
    val corpus = emb.filter(col("vec_id") < 40).select(col("vec_id"), col("embedding"))
      .unionByName(frame(odd(64)))
    assertScalarAdc(index, corpus, corpus.filter(col("vec_id") < 8 || col("vec_id") >= 900000L), k = 6)
  }

  test("a subvector equally close to two centroids codes to the first of them") {
    // x·c − ‖c‖²/2 for x = (1, 1): subspace 0 scores 0.5, 0.5, 0.0;
    // subspace 1 scores 0.0, 1.0, 1.0 — every product is exact.
    // Row 7's subspace 0, x = (∞, 0), scores ∞, NaN, ∞: NaN is the largest
    // under SQL ordering, so its code is 1. It is a corpus row only, so
    // every score stays finite.
    val index = Pq.PqIndex(m = 2, k = 3, subDim = 2, centroids = Array(
      Array(Array(1f, 0f), Array(0f, 1f), Array(2f, 2f)),
      Array(Array(0f, 0f), Array(1f, 1f), Array(1f, 1f))))
    val corpus = frame(Seq(
      (1L, Array(1f, 1f, 1f, 1f)), (2L, Array(1f, 1f, 1f, 1f)), (3L, Array(0f, 1f, 2f, 0f)),
      (4L, Array(-1f, 0.5f, 0f, 3f)), (5L, null), (6L, Array(1f)),
      (7L, Array(Float.PositiveInfinity, 0f, 0f, 0f))))
    val codes = sparkCodes(index, corpus)
    assert(codes(1L) == Seq(Some(0), Some(1)))
    assert(codes(7L) == Seq(Some(1), Some(0)))
    assertScalarAdc(index, corpus, corpus.filter(col("vec_id") =!= 7L), k = 5)
  }

  test("adcTopK scores a pair with m lookups into its query's table, and no dot product") {
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, ElementAt}
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    import graft.functions.{DotProduct, PqExpression}
    val index = Pq.train(emb, m = 16, k = 16)
    val plan = Pq.adcTopK(emb.filter(col("vec_id") < 5), emb, index, k = 5)
      .queryExecution.optimizedPlan
    val join = plan.collectFirst { case j: Join => j }.getOrElse(fail(s"no join in\n$plan"))
    def atOrAbove(p: LogicalPlan): Seq[LogicalPlan] =
      if (p eq join) Seq(p) else p +: p.children.flatMap(atOrAbove)
    val perPair = atOrAbove(plan).flatMap(_.expressions)
    assert(!perPair.exists(_.exists {
      case _: DotProduct | _: PqExpression => true
      case _ => false
    }), s"a dot product or PQ loop runs per pair:\n$plan")
    val scores = perPair.flatMap(_.collect { case a: Alias if a.name == "score" => a.child })
      .filter(_.references.exists(_.name == "q_table"))
    assert(scores.length == 1, s"one score expression over q_table expected:\n$plan")
    val lookups = scores.head.collect {
      case ElementAt(t: AttributeReference, _, _, _) if t.name == "q_table" => t
    }
    assert(lookups.length == index.m, s"${lookups.length} table lookups, expected ${index.m}")
  }
}
