package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dedup.Components
import graft.graph.{KCore, LabelPropagation, PageRank, ShortestPaths, Walks}

/** Seeded power-law block graph in the GraphScaleSmoke shape: n = m/4
  * nodes in 16 equal blocks, a Hamilton path through each block (so there
  * are exactly 16 components, each labelled by its block's first node),
  * and skewed in-block edges whose hubs sit at each block's head; the seed
  * is folded into the edge hashes. Runs the six lineage-loop operators.
  *
  * Why: bound by per-job and per-iteration overhead with small shuffles:
  * measured on 4 cores, about half of each operator's span has none of its
  * tasks running, and each shuffles under 0.4 MB.
  * Its `graph.components` layer is `dedup.Components.connectedComponents`
  * on the graph. Run alone, it is called with a `driverThreshold` below the
  * edge count, so it takes the distributed star-contraction path that the
  * default threshold (2^20) takes only on graphs whose passes last minutes
  * on 4 cores. Inside `training` it keeps the default and takes union-find.
  */
final case class GraphIter(edges: Long = 1L << 13, ccDriverThreshold: Long = 1L << 12) extends Workload {
  val name = "graph_iter"
  val layers = Seq("graph.pagerank", "graph.kcore", "graph.label_prop", "graph.sssp",
    "graph.walks", "graph.components")
  val blocks = 16L
  val prIters = 1
  val kcoreK = 3
  val kcoreRounds = 1
  val lpIters = 1
  val ssspRounds = 2
  val walkSteps = 1
  val walkSeeds = 128
  val nodes: Long = edges / 4
  val blockSize: Long = nodes / blocks
  require(nodes % blocks == 0, s"nodes ($nodes) must divide into $blocks blocks")

  private def block(c: org.apache.spark.sql.Column) = floor(c / blockSize).cast("long")

  def generate(spark: SparkSession, seed: Long, dir: String): Inputs = {
    val b = blockSize
    val path = spark.range(nodes)
      .filter(col("id") % b =!= (b - 1))
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    val skew = spark.range(edges - (nodes - blocks)).select(
      ((col("id") % blocks) * b + pmod(xxhash64(col("id"), lit(1), lit(seed)), lit(b - 1))).as("src"),
      ((col("id") % blocks) * b +
        floor(pow(pmod(xxhash64(col("id"), lit(2), lit(seed)), lit(1000003L))
          .cast("double") / 1000003.0, 2.0) * b).cast("long")).as("dst"))
    val e = path.unionByName(skew)
      .withColumn("w", (pmod(xxhash64(col("src"), col("dst"), lit(seed)), lit(9L)) + 1).cast("int"))
      .persist()
    e.write.format("noop").mode("overwrite").save()
    // one SSSP seed per block; walk seeds spread over the whole graph
    val rnd = new scala.util.Random(seed)
    val ssspSeeds = spark.createDataFrame((0L until blocks).map(k => Tuple1(k * b + rnd.nextInt(b.toInt))))
      .toDF("node")
    val walkStarts = spark.createDataFrame((0 until walkSeeds).map(_ => Tuple1(math.abs(rnd.nextLong()) % nodes)))
      .toDF("node").distinct().persist()
    val nWalks = walkStarts.count()
    new Inputs {
      val rows: Long = edges
      def release(): Unit = { e.unpersist(blocking = true); walkStarts.unpersist(blocking = true) }
      def pass(ctx: Ctx): PassOut = {
        val d = ctx.dir
        val results = Seq(
          ("graph.pagerank", "pagerank", () => PageRank.run(e, iterations = prIters)),
          ("graph.kcore", "kcore", () => KCore.run(e, k = kcoreK, rounds = kcoreRounds)),
          ("graph.label_prop", "label_prop", () => LabelPropagation.run(e, iterations = lpIters)),
          ("graph.sssp", "sssp", () => ShortestPaths.run(e, ssspSeeds, rounds = ssspRounds)),
          ("graph.walks", "walks", () => Walks.run(e, walkStarts, steps = walkSteps, ord = _.cast("long"))),
          ("graph.components", "components", () => Components.connectedComponents(
            e.select(col("src").as("id_a"), col("dst").as("id_b")),
            driverThreshold = ccDriverThreshold)))
          .map { case (layer, out, run) =>
            ctx.layer(layer) {
              val r = ctx.result(run())
              ctx.sink(r, s"$d/$out")
              r
            }
          }
        new PassOut {
          def check(): Seq[String] = {
            val read = (n: String) => ctx.spark.read.parquet(s"$d/$n")
            val pr = read("pagerank").agg(count(lit(1)), sum(col("rank"))).head()
            val cc = read("components").agg(count(lit(1)), countDistinct(col("component")),
              sum(when(col("component") =!= block(col("id")) * blockSize, 1L).otherwise(0L))).head()
            val lp = read("label_prop").agg(count(lit(1)),
              sum(when(col("lbl") > col("node") || col("lbl") < block(col("node")) * blockSize, 1L)
                .otherwise(0L))).head()
            val kc = read("kcore").agg(count(lit(1)), sum(col("deg")), min(col("deg"))).head()
            val sp = read("sssp").agg(sum(when(col("dist") === 0L, 1L).otherwise(0L)),
              min(when(col("dist") > 0L, col("dist")))).head()
            val hops = (1 to walkSteps).map(i => col(s"hop$i"))
            val wk = read("walks").agg(count(lit(1)), sum(hops.map(h =>
              when(h.isNotNull && block(h) =!= block(col("start")), 1L).otherwise(0L)).reduce(_ + _))).head()
            Seq(
              s"pagerank: ${pr.getLong(0)} nodes, expected $nodes" -> (pr.getLong(0) == nodes),
              s"pagerank: sum ${pr.getDouble(1)}, expected 1 ± 1e-6" -> (math.abs(pr.getDouble(1) - 1.0) <= 1e-6),
              s"components: ${cc.getLong(0)} ids, expected $nodes" -> (cc.getLong(0) == nodes),
              s"components: ${cc.getLong(1)} components, expected $blocks" -> (cc.getLong(1) == blocks),
              s"components: ${cc.getLong(2)} ids not labelled by their block head" -> (cc.getLong(2) == 0L),
              s"label_prop: ${lp.getLong(0)} nodes, expected $nodes" -> (lp.getLong(0) == nodes),
              s"label_prop: ${lp.getLong(1)} labels outside [block head, node]" -> (lp.getLong(1) == 0L),
              s"kcore: degree sum ${kc.get(1)} is odd or empty" ->
                (kc.getLong(0) > 0 && kc.getLong(1) % 2 == 0 && kc.getLong(2) >= 1),
              s"sssp: ${sp.getLong(0)} nodes at distance 0, expected $blocks" -> (sp.getLong(0) == blocks),
              s"sssp: smallest nonzero distance ${sp.get(1)}, expected >= 1" -> (!sp.isNullAt(1) && sp.getLong(1) >= 1L),
              s"walks: ${wk.getLong(0)} walks, expected $nWalks" -> (wk.getLong(0) == nWalks),
              s"walks: ${wk.getLong(1)} hops left their block" -> (wk.getLong(1) == 0L))
              .collect { case (msg, false) => msg }
          }
          def outputBytes: Long = Files2.sizeOf(Files2.path(d))
          override def release(): Unit = results.foreach(Frames.release)
        }
      }
    }
  }
}
