package perfbench

import org.apache.spark.sql.SparkSession

/** The training-data and graph side in one pass: the near_dup, graph_iter
  * and ann_search stages, one after another, each on its own generated
  * inputs and with its own layers and checks. `rows_per_s` counts the
  * stages' rows together (documents + edges + corpus rows × queries).
  *
  * Measured on 4 cores, the graph stage takes about 55% of a pass, the
  * ann stage 30% (most of it PQ-ADC task CPU) and the dedup stage 15%;
  * outside PQ-ADC about half of each layer's span has none of its tasks
  * running.
  *
  * Why one workload: each benchmark run is a fresh JVM whose session,
  * JIT and code-generation warm-up cost more than these stages' passes on
  * 4 cores, and the benchmark's run budget holds two such runs per round,
  * not four. For the same reason the graph stage keeps
  * `connectedComponents`' default driver threshold here (union-find). The
  * stages still run alone under their own names.
  */
object Training extends Workload {
  val stages: Seq[Workload] = Seq(NearDup(), GraphIter(ccDriverThreshold = 1L << 20), AnnSearch())
  val name = "training"
  val layers: Seq[String] = stages.flatMap(_.layers)

  def generate(spark: SparkSession, seed: Long, dir: String): Inputs = {
    val ins = stages.map(w => w.name -> w.generate(spark, seed, s"$dir/${w.name}"))
    new Inputs {
      val rows: Long = ins.map(_._2.rows).sum
      def release(): Unit = ins.foreach(_._2.release())
      def pass(ctx: Ctx): PassOut = {
        val outs = ins.map { case (n, in) => n -> in.pass(ctx.sub(n)) }
        new PassOut {
          def check(): Seq[String] = outs.flatMap { case (n, o) => o.check().map(f => s"$n: $f") }
          def outputBytes: Long = outs.map(_._2.outputBytes).sum
          override def release(): Unit = outs.foreach(_._2.release())
          override def facts: Map[String, Double] = outs.flatMap(_._2.facts).toMap
        }
      }
    }
  }
}
