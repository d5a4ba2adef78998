package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import scala.collection.immutable.ListMap
import scala.util.{Failure, Success, Try}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Runs one workload: set-up, a warm-up pass, then verified passes for
  * `--seconds`, one after another on one thread (a closed loop with one
  * client). Prints one JSON result line; writes the full artifact and, on
  * traced runs, the spans under `--out`. */
object Main {
  /** The benchmark's workloads, and the three stages of `training`, which
    * also run on their own under their names. */
  val Workloads: Map[String, Workload] =
    Seq(KgBuild(), Training, NearDup(), GraphIter(), AnnSearch()).map(w => w.name -> w).toMap

  /** Input generations per set-up; `setup_s` takes their median. */
  val SetupRepeats = 3
  /** Host drift between the boundaries of the measured region above which
    * the artifact flags the run as noisy (the pass_s bound). */
  val NoiseBound = 0.15

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, out: String)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      kv.getOrElse("out", "perfbench/out"))
  }

  final case class PassRec(id: Int, traced: Boolean, wallS: Double, failures: Seq[String],
                           totals: Totals, outputBytes: Long, leaked: Int,
                           layers: Map[String, Map[String, Double]], uncoveredS: Double,
                           facts: Map[String, Double]) {
    def ok: Boolean = failures.isEmpty
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Highest percentile with at least ten samples beyond it, if any. */
  def supportedPercentile(n: Int): Option[Double] =
    if (n < 11) None else Some(math.floor(1000.0 * (1.0 - 10.0 / n)) / 10.0)

  /** One workload in one session; reused by the benchmark's own tests. */
  final class Runner(spark: SparkSession, val wl: Workload, runDir: Path) {
    val probe = new Probe(spark)
    private val ckpt = runDir.resolve("checkpoints")
    spark.sparkContext.setCheckpointDir(ckpt.toString)
    var inputs: Inputs = _

    def generate(seed: Long, i: Int): Double = {
      if (inputs != null) inputs.release()
      val t0 = System.nanoTime()
      inputs = wl.generate(spark, seed, runDir.resolve(s"input-$i").toString)
      (System.nanoTime() - t0) / 1e9
    }

    private def persistent: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

    /** One pass, its checks, its leak accounting and its clean-up. Only
      * the pass itself is timed. */
    def runPass(id: Int, traced: Boolean, ctxHook: Ctx => Unit = _ => ()): PassRec = {
      val dir = runDir.resolve(s"pass-$id")
      val ctx = new Ctx(spark, dir.toString, traced, probe)
      val rddsBefore = persistent
      val ckptBefore = Files2.list(ckpt)
      probe.beginPass(id, traced)
      val t0 = System.nanoTime()
      val out = Try(if (traced) probe.span("pass", "pass")(inputs.pass(ctx)) else inputs.pass(ctx))
      val wall = (System.nanoTime() - t0) / 1e9
      val totals = probe.endPass(id)
      val failures = out match {
        case Success(o) => Try(o.check()).fold(e => Seq(s"check threw: $e"), identity)
        case Failure(e) => Seq(s"pass threw: $e")
      }
      val facts = out.flatMap(o => Try(o.facts)).getOrElse(Map.empty)
      val outBytes = out.map(_.outputBytes).getOrElse(0L)
      out.foreach(o => Try(o.release()))
      val leaked = (persistent -- rddsBefore).size + (Files2.list(ckpt) -- ckptBefore).size
      val (layers, uncovered) = if (traced) probe.layerReport(id) else (Map.empty[String, Map[String, Double]], 0.0)
      ctxHook(ctx)
      Files2.deleteRecursively(dir)
      PassRec(id, traced, wall, failures, totals, outBytes, leaked, layers, uncovered, facts)
    }
  }

  private val started = System.nanoTime()
  private def note(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.nanoTime() - started) / 1e9}%.1fs] $msg")

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val wl = Workloads.getOrElse(o.workload,
      throw new IllegalArgumentException(s"unknown workload ${o.workload}"))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val runDir = Files2.path(o.out, s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}")
    Files2.deleteRecursively(runDir)
    Files.createDirectories(runDir)
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = graft.Sessions.local(cpus.toString)
    try {
      note("session ready")
      val runner = new Runner(spark, wl, runDir)
      val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
      val genS = (1 to SetupRepeats).map(i => runner.generate(o.seed, i))
      note("inputs generated")
      val warm = runner.runPass(0, traced = false)
      note("warm-up pass done")
      val setupS = sessionS + median(genS) + warm.wallS

      val hostStart = Host.sample()
      val deadline = System.nanoTime() + o.seconds * 1000000000L
      val recs = scala.collection.mutable.ArrayBuffer[PassRec]()
      // traced runs alternate traced and untraced passes, traced first, so
      // the traced pass sits where an untraced run's first timed pass does;
      // the JIT still warming makes trace_overhead_ratio an upper bound
      def enough = if (o.trace) recs.exists(_.traced) && recs.exists(!_.traced) else recs.nonEmpty
      var id = 1
      while (!enough || System.nanoTime() < deadline) {
        recs += runner.runPass(id, traced = o.trace && id % 2 == 1)
        id += 1
      }
      note(s"${recs.size} timed passes done")
      val hostEnd = Host.sample()
      runner.inputs.release()

      val all = warm +: recs.toSeq
      val timed = recs.toSeq.filterNot(_.traced)
      val okTimed = timed.filter(_.ok)
      val basis = if (okTimed.nonEmpty) okTimed else timed
      val passS = median(basis.map(_.wallS))
      val endToEnd = ListMap(
        "setup_s" -> (setupS, "s"),
        "pass_s" -> (passS, "s"),
        "rows_per_s" -> (runner.inputs.rows / passS, "rows/s"),
        "shuffle_mb" -> (median(basis.map(_.totals.shuffleBytes / 1e6)), "MB"),
        "peak_cached_mb" -> (median(basis.map(_.totals.peakCachedBytes / 1e6)), "MB"),
        "output_mb" -> (median(basis.map(_.outputBytes / 1e6)), "MB"))
      val perLayer = layerMetrics(wl, all, passS)
      val failed = all.count(!_.ok)
      val drift = Host.drift(hostStart, hostEnd)

      val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
      val artifact = ListMap(
        "workload" -> wl.name, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
        "cores" -> cpus, "rows" -> runner.inputs.rows,
        "setup" -> ListMap("session_s" -> sessionS, "generate_s" -> genS, "warmup_s" -> warm.wallS,
          "setup_s" -> setupS),
        "pass_s" -> ListMap("median" -> passS, "samples" -> basis.size,
          "highest_supported_percentile" -> supportedPercentile(basis.size),
          "values" -> basis.map(_.wallS)),
        "failed_ratio" -> failed.toDouble / all.size,
        "leaked_rdds" -> all.map(_.leaked).max,
        "host" -> ListMap("start" -> hostStart, "end" -> hostEnd, "drift" -> drift,
          "noise_bound" -> NoiseBound, "noisy" -> (drift > NoiseBound)),
        "end_to_end" -> endToEnd.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) },
        "per_layer" -> (if (o.trace) perLayer.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) }
                        else ListMap.empty),
        "passes" -> all.map(p => ListMap("id" -> p.id, "traced" -> p.traced, "wall_s" -> p.wallS,
          "ok" -> p.ok, "failures" -> p.failures, "shuffle_mb" -> p.totals.shuffleBytes / 1e6,
          "spill_mb" -> p.totals.spillBytes / 1e6, "failed_tasks" -> p.totals.failedTasks,
          "peak_cached_mb" -> p.totals.peakCachedBytes / 1e6, "output_mb" -> p.outputBytes / 1e6,
          "leaked_rdds" -> p.leaked, "uncovered_s" -> p.uncoveredS, "facts" -> p.facts,
          "layers" -> p.layers)))
      Files.writeString(runDir.resolve("result.json"),
        mapper.writerWithDefaultPrettyPrinter().writeValueAsString(artifact))
      if (o.trace)
        Files.writeString(runDir.resolve("spans.jsonl"),
          runner.probe.spanRecords.map(mapper.writeValueAsString).mkString("", "\n", "\n"))
      all.filterNot(_.ok).foreach(p => System.err.println(s"pass ${p.id} failed: ${p.failures.mkString("; ")}"))
      if (drift > NoiseBound)
        System.err.println(f"host drift $drift%.3f exceeds the noise bound $NoiseBound; see result.json")
      System.err.println(s"artifact: ${runDir.resolve("result.json")}")

      note("artifact written")
      val metrics = if (o.trace) perLayer else endToEnd
      println(mapper.writeValueAsString(ListMap(
        "correct" -> (failed == 0), "attempted" -> all.size, "failed" -> failed,
        "metrics" -> metrics.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) })))
    } finally {
      spark.stop()
      note("session stopped")
      runDir.toFile.listFiles().filter(f => f.getName.startsWith("input-") || f.getName == "checkpoints")
        .foreach(f => Files2.deleteRecursively(f.toPath))
    }
  }

  /** Every layer of every workload, so a traced run always prints the same
    * names; a layer the workload does not run reads 0. */
  val AllLayers: Seq[String] = (KgBuild().layers ++ Training.layers).distinct
  val Measures = Seq("wall_s" -> "s", "task_cpu_s" -> "s", "idle_s" -> "s", "plan_s" -> "s",
    "jobs" -> "count", "shuffle_mb" -> "MB", "spill_mb" -> "MB")
  /** Layers that also report their peak cached bytes: the iterative ones
    * and the components step of near_dup. */
  val PeakLayers = Seq("graph.pagerank", "graph.kcore", "graph.label_prop", "graph.sssp",
    "graph.walks", "graph.components", "dedup.components")
  /** Measures left out to stay within 128 per-layer metrics: the sim
    * layers run on broadcast queries and cached vectors and never spill,
    * PQ training shuffles nothing (Lloyd's runs on the driver), and
    * io.read is a scan and a count, with no shuffle. */
  val Omitted = Set("sim.pq_train.spill_mb", "sim.pq_adc.spill_mb", "sim.exact_topk.spill_mb",
    "sim.pq_train.shuffle_mb", "io.read.shuffle_mb")

  def layerMetrics(wl: Workload, all: Seq[PassRec], untracedPassS: Double): ListMap[String, (Double, String)] = {
    val traced = all.filter(_.traced)
    val okTraced = if (traced.exists(_.ok)) traced.filter(_.ok) else traced
    def layerMed(layer: String, m: String): Double =
      if (okTraced.isEmpty) 0.0 else median(okTraced.map(_.layers.get(layer).flatMap(_.get(m)).getOrElse(0.0)))
    def factMed(f: String): Double =
      if (okTraced.isEmpty) 0.0 else median(okTraced.map(_.facts.getOrElse(f, 0.0)))
    val base = AllLayers.flatMap { l =>
      Measures.collect { case (m, u) if !Omitted(s"$l.$m") => s"$l.$m" -> (layerMed(l, m), u) } ++
        (if (PeakLayers.contains(l)) Seq(s"$l.peak_cached_mb" -> (layerMed(l, "peak_cached_mb"), "MB")) else Nil)
    }
    val adcCpu = layerMed("sim.pq_adc", "task_cpu_s")
    val pairs = if (adcCpu > 0) rowsOf(wl) / adcCpu else 0.0
    val tracedPassS = if (okTraced.isEmpty) 0.0 else median(okTraced.map(_.wallS))
    ListMap(base: _*) ++ ListMap(
      "dedup.minhash_lsh.candidate_yield" -> (factMed("candidate_yield"), "ratio"),
      "sim.pq_adc.pairs_per_cpu_s" -> (pairs, "pairs/s"),
      "sim.pq_adc.recall_at_10" -> (factMed("recall_at_10"), "ratio"),
      "spark.failed_tasks" -> (all.map(_.totals.failedTasks).sum.toDouble, "count"),
      "spark.leaked_rdds" -> (all.map(_.leaked).max.toDouble, "count"),
      "trace.uncovered_s" -> (if (okTraced.isEmpty) 0.0 else median(okTraced.map(_.uncoveredS)), "s"),
      "trace_overhead_ratio" -> (tracedPassS / untracedPassS, "ratio"))
  }

  private def rowsOf(wl: Workload): Double = wl match {
    case a: AnnSearch => a.corpus.toDouble * a.queries
    case Training => Training.stages.map(rowsOf).sum
    case _ => 0.0
  }
}
