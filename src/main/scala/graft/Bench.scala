package graft

import com.fasterxml.jackson.annotation.{JsonSetter, Nulls}
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper, PropertyNamingStrategies}
import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import com.fasterxml.jackson.databind.node.{ArrayNode, DoubleNode, ObjectNode}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap
import scala.util.Try

/** The bench artifact, `bench.json`; JSON field names are the snake_case
  * of these. Smoke fields carry sentinels: -1 crash, -2 wrong count or
  * failed invariant, -3 not reached. The fields a no-clobber rule reads
  * name their element type for Jackson, which cannot see it through
  * erasure. */
final case class BenchArtifact(metric: String, value: Double, unit: String,
    queries: Map[String, Double], min: Map[String, Double], max: Map[String, Double],
    stat: Map[String, String], errors: Map[String, String],
    robokopBuildSec: Double, dedupSmokeSec: Double,
    @JsonDeserialize(contentAs = classOf[java.lang.Double]) dedupCurveSec: Seq[Double],
    dedupCurveProbeSec: Seq[Double],
    winnowSmokeSec: Double, substringSmokeSec: Double, mergeSmokeSec: Double,
    mergeSmokeRows: Map[String, Long],
    @JsonDeserialize(contentAs = classOf[java.lang.Double]) graphCurveSec: Seq[Double],
    graphCurveProbeSec: Seq[Double], graphCurveOps: Map[String, Seq[Double]],
    smokeDetail: Map[String, Observe.Totals], smokeErrors: Map[String, String],
    loadavgBefore: Double, loadavgAfter: Double, probeSec: Seq[Double], probeSpread: Double,
    cpus: Int, @JsonDeserialize(contentAs = classOf[java.lang.Integer]) benchCpus: Option[Int],
    codeFingerprint: Option[String], contaminated: Option[Boolean], partial: Option[Boolean],
    sf: String) {
  def cleanFull: Boolean = contaminated.contains(false) && partial.contains(false)
}

object BenchArtifact {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
    .setPropertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)
    .configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
    .setDefaultSetterInfo(JsonSetter.Value.forValueNulls(Nulls.AS_EMPTY))

  /** Lenient read of an artifact, possibly from an older round: a missing
    * or null field reads as None, empty or 0 (no no-clobber rule reads 0
    * as a crash or a breach); text that is not an artifact reads as None. */
  def parse(text: String): Option[BenchArtifact] =
    Try(json.readValue(text, classOf[BenchArtifact])).toOption.flatMap(Option(_))

  /** The artifact at `path`; None when it is absent or unreadable. */
  def read(path: Path): Option[BenchArtifact] =
    Try(new String(Files.readAllBytes(path), "UTF-8")).toOption.flatMap(parse)
}

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR.
  * Each query runs once untimed (JVM/codegen/page-cache warm-up, one
  * shared session like a long-lived cluster app), then three timed
  * iterations; the reported per-query figure is the MEDIAN (so a stray
  * GC pause or late JIT/codegen compile can't fabricate a multi-second
  * regression — the round-3 q33 artifact), EXCEPT for heavy-tail queries
  * (median > 3 s) where it is the MIN — see the inline rationale at the
  * measurement site. Min/max land in the JSON for variance auditing.
  * Output: one JSON line.
  *
  * Load-proofing (the round-7 artifact was recorded under concurrent
  * load and read as a phantom 3-4× regression): /proc/loadavg is sampled
  * before the warm-up and after the last measurement, both land in the
  * JSON, and `contaminated` is set when either load1 exceeds 1.5× the
  * CPU count — BASELINE.md floor comparisons must refuse a contaminated
  * artifact rather than read it as a regression.
  *
  * The round-8 artifact showed loadavg is not enough: HOST-level CPU
  * steal (sibling containers competing for the physical cores) inflated
  * the smoke figures 4-15× while this container's loadavg stayed clean.
  * A fixed CPU work unit (`cpuProbe`) now runs at every phase boundary
  * (as `boundaryProbe`, the min of 3 reps — blip-robust); its wall time
  * stretches under any contention, container-visible or not, and
  * `probe_spread` (max/min) > 2 also marks the artifact contaminated.
  */
object Bench {
  /** Smoke pins MIRRORED from BASELINE.md (the extended no-clobber rule's
    * breach test) — update BOTH together when re-pinning. Wall-time pins
    * are deliberately generous (they admit the measured driver-host noise);
    * the tight regression signal is the steal-invariant `task_cpu_s` in
    * `smoke_detail`, pinned in BASELINE.md prose. */
  private[graft] val substringSmokeMaxSec = 150.0
  private[graft] val dedupCurve8xMaxRatio = 11.0
  private[graft] val dedupCurve4xMaxRatio = 5.0
  private[graft] val graphCurve4xMaxRatio = 5.0

  /** Where a candidate artifact goes: over the on-disk artifact, or
    * diverted to `<benchOut>.rejected` for the reason given. */
  sealed trait Decision
  case object Write extends Decision
  final case class Divert(why: String) extends Decision

  /** True when any smoke in `a` crashed, returned a wrong count, or
    * never ran: a non-empty `smoke_errors` map, or a negative sentinel in
    * any smoke field. `robokop_build_sec` is excluded — it is
    * legitimately -1.0 when the parser fixtures aren't on disk. */
  private[graft] def smokesCrashed(a: BenchArtifact): Boolean =
    a.smokeErrors.nonEmpty ||
      (a.dedupCurveSec ++ a.graphCurveSec ++
        Seq(a.winnowSmokeSec, a.substringSmokeSec, a.mergeSmokeSec)).exists(_ < 0)

  /** Names the first BASELINE smoke pin `a` breaches, if any. Crash /
    * not-reached sentinels (negative values) are never a breach — they
    * are caught by [[smokesCrashed]] instead. */
  private[graft] def breachedSmokePin(a: BenchArtifact): Option[String] = {
    def ratio(xs: Seq[Double], i: Int): Option[Double] =
      if (xs.length > i && xs.head > 0 && xs(i) > 0) Some(xs(i) / xs.head) else None
    val curve = a.dedupCurveSec
    Some(a.substringSmokeSec).filter(_ > substringSmokeMaxSec)
      .map(s => f"substring_smoke_sec $s%.1f > $substringSmokeMaxSec%.0f")
      .orElse(ratio(curve, 3).filter(_ > dedupCurve8xMaxRatio)
        .map(r => f"dedup_curve 8x ratio $r%.2f > $dedupCurve8xMaxRatio%.0f"))
      .orElse(ratio(curve, 2).filter(_ > dedupCurve4xMaxRatio)
        .map(r => f"dedup_curve 4x ratio $r%.2f > $dedupCurve4xMaxRatio%.0f"))
      .orElse(ratio(a.graphCurveSec, 2).filter(_ > graphCurve4xMaxRatio)
        .map(r => f"graph_curve 4x ratio $r%.2f > $graphCurve4xMaxRatio%.0f"))
  }

  /** No-clobber rule (4): true when the on-disk artifact is clean, full,
    * and records a `bench_cpus` different from this run's parallelism.
    * The driver re-runs the bench at a lower SPARK_GRAFT_CPUS to measure
    * scaling; such a run must never displace the canonical-core-count
    * artifact (in r15 a clean 8-core run silently replaced the 32-core
    * bench.json — the old `cpus` field recorded max(availableProcessors,
    * benchCpus) and could not tell the two apart). Artifacts predating
    * the field are indistinguishable, so the rule fires only when the
    * on-disk artifact carries `bench_cpus`. */
  private[graft] def crossCoreClobber(existing: BenchArtifact, benchCpus: Int): Boolean =
    existing.cleanFull && existing.benchCpus.exists(_ != benchCpus)

  /** Where `candidate` goes, given the artifact on disk (None when absent
    * or unreadable). No-clobber rules (BASELINE.md refused-artifacts
    * ledger), all of which protect only a clean, full on-disk artifact:
    *  (1) a contaminated or partial candidate never overwrites it — the
    *      post-commit bench runs of r12 and r13 replaced the committed
    *      clean artifact with a steal-contaminated run, costing a cleanup
    *      round each time;
    *  (2) a clean candidate that breaches a BASELINE smoke pin is diverted
    *      when the on-disk artifact is non-breaching, its smokes all ran,
    *      and it is from the SAME CODE (fingerprint match) — the r14
    *      post-commit run was clean by probes yet carried a 116 s substring smoke
    *      against a 27 s committed same-code run; a same-code pin breach is
    *      environment, not regression;
    *  (3) a clean candidate whose smokes crashed never displaces one whose
    *      smokes all ran — the r15 run-1 heap-OOM cascade wrote -1.0 over a
    *      committed full curve;
    *  (4) [[crossCoreClobber]], checked first because it applies to clean
    *      and dirty candidates alike. */
  private[graft] def decide(existing: Option[BenchArtifact], candidate: BenchArtifact): Decision =
    existing.filter(_.cleanFull).fold[Decision](Write) { e =>
      val sameCode = candidate.codeFingerprint
        .exists(fp => fp != "unknown" && e.codeFingerprint.contains(fp))
      if (candidate.benchCpus.exists(crossCoreClobber(e, _)))
        Divert(s"cross-core-count (bench_cpus ${candidate.benchCpus.get} vs on-disk " +
          s"${e.benchCpus.get})")
      else if (!candidate.cleanFull)
        Divert(if (candidate.partial.contains(true)) "partial" else "contaminated")
      else if (smokesCrashed(candidate) && !smokesCrashed(e))
        Divert("smoke-crashed (clean artifact on disk has all smokes green)")
      else (breachedSmokePin(candidate), breachedSmokePin(e)) match {
        case (Some(pin), None) if sameCode && !smokesCrashed(e) =>
          Divert(s"pin-breaching ($pin; same-code artifact on disk holds it)")
        case _ => Write
      }
    }

  /** The `keys` of `a`'s JSON tree, in that order, after `edit`. */
  private def project(a: BenchArtifact, keys: Seq[String])(edit: ObjectNode => Unit): String = {
    val tree = BenchArtifact.json.valueToTree[ObjectNode](a)
    edit(tree)
    val out = BenchArtifact.json.createObjectNode()
    keys.foreach(k => out.set[JsonNode](k, tree.get(k)))
    BenchArtifact.json.writeValueAsString(out)
  }

  /** The `SPARK_GRAFT_SMOKES=0` stdout line. */
  private[graft] def queriesLine(a: BenchArtifact): String =
    project(a, Seq("metric", "value", "unit", "queries", "errors", "partial", "sf"))(_ => ())

  /** The stdout line of a full run. The harness that captures stdout keeps
    * only the last ~2000 characters, so the full artifact (163 queries × 3
    * maps) would arrive truncated and unparseable — every BENCH_r{N}.json
    * before this line existed has "parsed": null. It keeps the headline
    * fields and contamination signals, only the 30 slowest queries, and
    * numbers to 3 decimals: ≈1.5 KB, so sbt's trailing "[success]" line
    * still leaves it whole inside the tail window. */
  private[graft] def compactLine(a: BenchArtifact, queriesFile: String): String = {
    val slowest = a.queries.toSeq.filterNot(q => a.errors.contains(q._1)).sortBy(-_._2).take(30)
    def round3(n: JsonNode): JsonNode = n match {
      case o: ObjectNode => o.properties.forEach(e => e.setValue(round3(e.getValue))); o
      case xs: ArrayNode => (0 until xs.size).foreach(i => xs.set(i, round3(xs.get(i)))); xs
      case d if d.isFloatingPointNumber => DoubleNode.valueOf(Observe.round(d.doubleValue, 3))
      case other => other
    }
    project(a, Seq("metric", "value", "unit", "queries", "queries_n", "queries_file", "errors",
      "robokop_build_sec", "dedup_smoke_sec", "dedup_curve_sec", "dedup_curve_probe_sec",
      "winnow_smoke_sec", "substring_smoke_sec", "merge_smoke_sec", "merge_smoke_rows",
      "graph_curve_sec", "graph_curve_probe_sec", "smoke_errors", "loadavg_before",
      "loadavg_after", "probe_spread", "cpus", "bench_cpus", "code_fingerprint",
      "contaminated", "partial", "sf")) { tree =>
      tree.set[JsonNode]("queries", BenchArtifact.json.valueToTree[JsonNode](ListMap.from(slowest)))
      tree.put("queries_n", a.queries.size).put("queries_file", queriesFile)
      round3(tree)
    }
  }

  /** First 12 hex of sha-256 over src/main/scala (sorted paths + bytes):
    * the artifact's "same code" witness for the no-clobber rule. Git
    * HEAD is NOT used — the driver commits round artifacts between the
    * campaign run and its own bench run, so the sha moves while the code
    * doesn't. "unknown" (no source tree in cwd) disables the rule. */
  private[graft] def codeFingerprint(): String = try {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    if (!java.nio.file.Files.isDirectory(root)) "unknown"
    else {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val stream = java.nio.file.Files.walk(root)
      val files =
        try stream.iterator().asScala
          .filter(_.toString.endsWith(".scala")).toList.sortBy(_.toString)
        finally stream.close()
      files.foreach { p =>
        md.update(p.toString.getBytes("UTF-8"))
        md.update(java.nio.file.Files.readAllBytes(p))
      }
      md.digest().take(6).map("%02x".format(_)).mkString
    }
  } catch { case _: Throwable => "unknown" }

  /** First field of /proc/loadavg (1-minute load), or -1 when absent. */
  private def load1(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Fixed CPU work unit: `threads` spinners each running 2²⁸ xorshift64
    * rounds; returns wall seconds (~0.65 s quiet on this container at 32
    * threads). HOST-level contention — CPU steal from sibling containers,
    * which this container's /proc/loadavg cannot see and which inflated
    * the round-8 smoke figures 4-15× under a clean-looking loadavg —
    * stretches this number proportionally. Sampled at every phase
    * boundary; the spread (max/min) is a contamination signal with no
    * machine-specific pin needed. */
  private val probeSink = new java.util.concurrent.atomic.AtomicLong()
  private def cpuProbe(threads: Int): Double = {
    val iters = 1L << 28
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { i =>
      val t = new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + i; var n = 0L
        while (n < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; n += 1 }
        probeSink.addAndGet(x) // defeat dead-code elimination
      })
      t.start(); t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Boundary probe = MIN of 3 consecutive work units. A sub-second host
    * blip landing exactly inside one ~0.65 s probe window used to poison
    * a whole 16-minute artifact whose every phase measurement sat inside
    * its pin (observed twice in one session: single samples of 1.7 s and
    * 3.0 s amid 0.6-0.7 s neighbors). The min is still an honest
    * contention signal: SUSTAINED steal squeezing an actual measurement
    * phase stretches all three reps, so the min stays high; only
    * blips shorter than the probe itself are forgiven. */
  private def boundaryProbe(threads: Int): Double =
    (1 to 3).map(_ => cpuProbe(threads)).min

  private final case class Timed(name: String, headline: Double, min: Double, max: Double,
      stat: String, error: Option[String])

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val benchCpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // the contamination threshold rides the LARGER of JVM-visible
    // processors and the session's own SPARK_GRAFT_CPUS parallelism: on a
    // container exposing fewer processors than the configured thread
    // count, the bench's own load would otherwise trip the gate on a clean run
    val cpus = math.max(Runtime.getRuntime.availableProcessors(), benchCpus)
    val spark = Sessions.local(benchCpus.toString)
    val loadBefore = load1()
    val probes = scala.collection.mutable.ArrayBuffer(boundaryProbe(benchCpus))
    def time(fn: => Unit): Double = {
      val t0 = System.nanoTime(); fn; (System.nanoTime() - t0) / 1e9
    }
    val sinkPlane = graft.queries.SinkQueries.defs.keySet
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      try {
        val times = Observe.timeQuery(spark)(fn(spark, sfDir))
        val median = times(times.size / 2)
        // headline statistic: MEDIAN for fast queries, MIN for the heavy
        // tail (median > 3 s — the iterative graph operators). The r9
        // committed vs driver artifacts disagreed 1.57× on q118 even with
        // clean probes: multi-second queries span enough wall time that
        // sub-probe-window host steal lands inside single iterations, and
        // the median keeps one squeezed sample. The min of 3 is the
        // honest throughput figure there (a regression slows ALL
        // iterations; steal slows some), and the tail dominates the total
        // so this is where the stability matters. min/max still land in
        // the artifact for variance audits.
        // sink-plane queries (q151+) write real artifacts inside the
        // measured action, so host disk contention is ADDITIVE one-sided
        // noise — it stretched q157/q158/q159 together in the r13 run-3
        // artifact while CPU probes were quiet. A regression slows every
        // iteration; contention slows some. Min is the honest statistic
        // there regardless of magnitude.
        val (headline, stat) =
          if (sinkPlane.contains(name) || median > 3.0) (times.head, "min")
          else (median, "median")
        Timed(name, headline, times.head, times.last, stat, None)
      } catch {
        case e: Throwable =>
          Timed(name, -1.0, -1.0, -1.0, "error",
            Some(Option(e.getMessage).getOrElse(e.getClass.getName)))
      }
    }
    def clip(message: String): String = message.replace('\n', ' ').take(200)
    // per-query maps in name order; `stat` ("median" | "min") says which
    // statistic each headline is, so a consumer comparing artifacts across
    // rounds can notice a query flipping statistic at the threshold
    def byName[V](f: Timed => V): Map[String, V] = ListMap.from(results.map(r => r.name -> f(r)))
    // a throwing query must fail loud: its message lands in `errors` and the
    // headline total is poisoned to -1 so a regression can't shrink the number
    val errors = ListMap.from(results.flatMap(r => r.error.map(m => r.name -> clip(m))))
    val total =
      if (errors.nonEmpty) -1.0 else results.map(_.headline).sum
    // a crashed smoke must stay diagnosable from the artifact alone: the
    // -1.0 sentinel says THAT a stage died, `smoke_errors` says WHY (the
    // run-12 ledger has a refused artifact whose whole smoke tail went -1.0
    // with stderr discarded — this map is what was missing)
    val smokeErrors = scala.collection.mutable.LinkedHashMap[String, String]()
    def smokeFail(stage: String, t: Throwable): Unit =
      smokeErrors(stage) = clip(t.getClass.getName + ": " + String.valueOf(t.getMessage))
    // per-smoke stage-metric totals (Observe.Totals), keyed per curve point
    val smokeDetail = scala.collection.mutable.LinkedHashMap[String, Observe.Totals]()
    val codeFp = codeFingerprint()
    // composed robokop-style build (parsers → merge → derive → CSV sinks)
    // timed once as a pipeline — reported separately, not in the query total
    val fixturesDir = sys.env.getOrElse("SPARK_GRAFT_FIXTURES", "src/test/resources/parsers")
    val buildSec =
      if (!Files.isDirectory(Paths.get(fixturesDir))) -1.0
      else try {
        val out = Files.createTempDirectory("bench-robokop-").toString
        time(graft.pipeline.RobokopBuild.run(spark, fixturesDir, out))
      } catch { case t: Throwable => smokeFail("robokop_build", t); -1.0 }
    def artifact(dedupCurve: Seq[(Double, Double)], winnowSec: Double, substringSec: Double,
                 mergeSmoke: (Double, Long, Long, Long),
                 graphCurve: Seq[(Double, Double, Double, Double, Double)],
                 loadAfter: Double, partial: Boolean): BenchArtifact = {
      // two independent contamination signals: container loadavg (sees
      // in-container noise) and the cpu-probe spread (sees host-level
      // steal that loadavg cannot — the round-8 artifact failure mode)
      val probeSpread =
        if (probes.size < 2 || probes.min <= 0) 1.0 else probes.max / probes.min
      val contaminated = loadBefore > 1.5 * cpus || loadAfter > 1.5 * cpus ||
        probeSpread > 2.0
      def r3(xs: Seq[Double]): Seq[Double] = xs.map(Observe.round(_, 3))
      // per-point boundary probes: each curve point carries the CPU work
      // unit sampled right after it, so a squeezed/non-monotonic point is
      // attributable to host steal from the artifact alone
      BenchArtifact(metric = "total", value = total, unit = "sec",
        queries = byName(_.headline), min = byName(_.min), max = byName(_.max),
        stat = byName(_.stat), errors = errors, robokopBuildSec = buildSec,
        dedupSmokeSec = dedupCurve.head._1, dedupCurveSec = dedupCurve.map(_._1),
        dedupCurveProbeSec = r3(dedupCurve.map(_._2)), winnowSmokeSec = winnowSec,
        substringSmokeSec = substringSec, mergeSmokeSec = mergeSmoke._1,
        mergeSmokeRows = ListMap("input" -> mergeSmoke._2, "distinct" -> mergeSmoke._3,
          "merged" -> mergeSmoke._4),
        graphCurveSec = graphCurve.map(_._1), graphCurveProbeSec = r3(graphCurve.map(_._5)),
        graphCurveOps = ListMap("pagerank" -> graphCurve.map(_._2),
          "hits" -> graphCurve.map(_._3), "components" -> graphCurve.map(_._4)),
        smokeDetail = ListMap.from(smokeDetail), smokeErrors = ListMap.from(smokeErrors),
        loadavgBefore = loadBefore, loadavgAfter = loadAfter, probeSec = r3(probes.toSeq),
        probeSpread = Observe.round(probeSpread, 3), cpus = cpus, benchCpus = Some(benchCpus),
        codeFingerprint = Some(codeFp), contaminated = Some(contaminated),
        partial = Some(partial), sf = sfDir)
    }
    val benchOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench.json")
    def writeArtifact(a: BenchArtifact): Unit = {
      val bytes = (BenchArtifact.json.writeValueAsString(a) + "\n").getBytes("UTF-8")
      def write(path: Path): Unit = try Files.write(path, bytes) catch { case _: Throwable => () }
      // The candidate is ALWAYS written verbatim to <benchOut minus
      // extension>_last_run.json first — a fixed secondary path the
      // no-clobber rules never divert — so the full per-query map of THIS
      // run has one unambiguous machine-readable location (r15's
      // per_query/scaling tables came up empty because the canonical
      // artifact had been diverted to .rejected).
      write(Paths.get(benchOut.stripSuffix(".json") + "_last_run.json"))
      // a diverted candidate is still written, to <benchOut>.rejected
      write(decide(BenchArtifact.read(Paths.get(benchOut)), a) match {
        case Write => Paths.get(benchOut)
        case Divert(why) =>
          println(s"[bench] $benchOut holds a clean full artifact; " +
            s"writing this $why run to $benchOut.rejected instead")
          Paths.get(benchOut + ".rejected")
      })
    }
    probes += boundaryProbe(benchCpus) // phase boundary: queries done
    // Artifact insurance: the scale smokes below add ~6-10 minutes. If an
    // external timeout kills the run mid-smoke, the query measurements
    // must not die with it — persist a partial artifact now (smoke fields
    // carry sentinel -3.0 = "not reached"), overwritten by the full
    // artifact at the end.
    val notReached = Seq.fill(3)((-3.0, -3.0, -3.0, -3.0, -3.0))
    val queriesOnly = artifact(Seq.fill(4)((-3.0, -3.0)), -3.0, -3.0, (-3.0, 0L, 0L, 0L),
      notReached, load1(), partial = true)
    writeArtifact(queriesOnly)
    // SPARK_GRAFT_SMOKES=0: queries-only run for local iteration (the scale
    // smokes add ~10-20 min); the artifact keeps partial=true so BASELINE
    // smoke-floor comparisons know the smokes never ran.
    if (sys.env.get("SPARK_GRAFT_SMOKES").contains("0")) {
      println(queriesLine(queriesOnly))
      spark.stop(); return
    }
    // Every scale smoke runs in its OWN fresh session: prior executions
    // leave shuffle files, block-manager state, and pending ContextCleaner
    // work that contaminate later timings by up to 3-4× (measured: winnow
    // 18 s standalone vs 69 s inside the old shared session; a 2M curve
    // point slower than the 4M one when curve points shared a session) in
    // ways no in-session GC/drain reliably removes. A fresh session in
    // the warm JVM keeps JIT/codegen (the part worth keeping) and drops
    // the debris — smoke numbers then match standalone runs.
    spark.stop()
    var smokeSpark: SparkSession = null
    def freshSmokeSession(): SparkSession = {
      if (smokeSpark != null) smokeSpark.stop()
      // A fatal executor error in a previous smoke (the r15 run-1 8M heap
      // OOM) leaves dying task threads whose SparkUncaughtExceptionHandler
      // stops whatever context is CURRENTLY active — in local mode that
      // can be the replacement session, serially killing every later
      // smoke ("Cannot call methods on a stopped SparkContext" across the
      // whole tail). Clear the session registry, settle, and retry until
      // the new context survives its settle window.
      var attempts = 0
      do {
        if (smokeSpark != null && !smokeSpark.sparkContext.isStopped) smokeSpark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        smokeSpark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
        // let GC + the stopped session's cleanup settle before the timer
        (1 to 2).foreach { _ => System.gc(); Thread.sleep(2500) }
        attempts += 1
      } while (smokeSpark.sparkContext.isStopped && attempts < 4)
      smokeSpark
    }
    // fixed-scale dedup throughput as a SCALE CURVE (1M/2M/4M/8M docs
    // through the full minhash→LSH→connected-components path): the
    // 100 TB claim rests on sub-quadratic shapes, so the artifact carries
    // four points; BASELINE.md pins curve[2] ≤ ~5× curve[0] and
    // curve[3] ≤ ~11× curve[0] (8× data, ≤11× time).
    // Sentinels per point: -1.0 = crash, -2.0 = wrong duplicate count.
    val dedupCurve = Seq(1000000L, 2000000L, 4000000L, 8000000L).map { n =>
      try {
        val sess = freshSmokeSession()
        val ((secs, dups, expected), sm) =
          Observe.measure(sess)(DedupScaleSmoke.run(sess, n))
        smokeDetail(s"dedup_$n") = sm.totals
        val p = boundaryProbe(benchCpus) // boundary after each curve point
        probes += p
        (if (dups == expected) secs else -2.0, p)
      } catch { case t: Throwable => smokeFail(s"dedup_curve_$n", t); (-1.0, -1.0) }
    }
    // the winnowing engine over the same 1M docs — result-checked against
    // the same expected duplicate count; same sentinels
    val winnowSmokeSec =
      try {
        val sess = freshSmokeSession()
        val ((secs, dups, expected), sm) =
          Observe.measure(sess)(DedupScaleSmoke.runWinnowing(sess, 1000000L))
        smokeDetail("winnow") = sm.totals
        probes += boundaryProbe(benchCpus)
        if (dups == expected) secs else -2.0
      } catch { case t: Throwable => smokeFail("winnow", t); -1.0 }
    // the exact substring-span engine (q67 semantics) over the same 1M
    // docs — result-checked against the same planted dup count
    val substringSmokeSec =
      try {
        val sess = freshSmokeSession()
        val ((secs, dups, expected), sm) =
          Observe.measure(sess)(DedupScaleSmoke.runSubstring(sess, 1000000L))
        smokeDetail("substring") = sm.totals
        probes += boundaryProbe(benchCpus)
        if (dups == expected) secs else -2.0
      } catch { case t: Throwable => smokeFail("substring", t); -1.0 }
    // merge envelope: 2×25M overlapping sources (50M input rows — an order
    // of magnitude past the reference's 10M RESOURCE_HOGS fork,
    // orion/merging.py:240) through the one production merge path, inside
    // this JVM's default 8 GiB heap. Result-checked counts; same sentinels.
    val mergeSmoke =
      try {
        val n = 25000000L
        val sess = freshSmokeSession()
        val (r, sm) = Observe.measure(sess)(ScaleSmoke.run(sess, n))
        smokeDetail("merge") = sm.totals
        probes += boundaryProbe(benchCpus)
        val ok = r.distinctIds == 2 * n - n / 2 && r.mergedAway == n / 2
        (if (ok) r.secs else -2.0, r.inputRows, r.distinctIds, r.mergedAway)
      } catch { case t: Throwable => smokeFail("merge", t); (-1.0, 0L, 0L, 0L) }
    // iterative-graph scale curve: 5M/10M/20M-edge synthetic power-law
    // graphs through the production PageRank(5)/HITS(4)/Components paths,
    // each point invariant-checked (Σrank=1, positive exact-int HITS sums,
    // exactly 16 components). BASELINE.md pins curve[2] ≤ ~5× curve[0].
    // Sentinels: -1.0 = crash, -2.0 = an invariant failed.
    val graphCurve = Seq(5000000L, 10000000L, 20000000L).map { m =>
      try {
        val sess = freshSmokeSession()
        val (r, sm) = Observe.measure(sess)(GraphScaleSmoke.run(sess, m))
        smokeDetail(s"graph_$m") = sm.totals
        val p = boundaryProbe(benchCpus)
        probes += p
        (if (r.ok) r.totalSecs else -2.0, r.prSecs, r.hitsSecs, r.ccSecs, p)
      } catch { case t: Throwable =>
        smokeFail(s"graph_curve_$m", t); (-1.0, -1.0, -1.0, -1.0, -1.0) }
    }
    val loadAfter = load1()
    // the canonical artifact: overwrites the pre-smoke partial write and
    // carries the FULL per-query median/min/max maps
    val full = artifact(dedupCurve, winnowSmokeSec, substringSmokeSec, mergeSmoke,
      graphCurve, loadAfter, partial = false)
    writeArtifact(full)
    println(compactLine(full, benchOut))
    if (smokeSpark != null) smokeSpark.stop()
  }
}
