package graft

import org.apache.spark.graftbridge.ListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** The harness's one way to run Spark work and observe it: `measure`
  * records every stage and job `body` runs, `timeQuery` is the bench's
  * timing protocol. Nothing listens outside an explicit `measure`, so
  * library code runs the same whether or not it is observed. */
object Observe {

  /** One completed stage: wall from submission to completion, summed
    * task metrics, and its task count. */
  final case class Stage(name: String, wallMs: Long, taskMs: Long, cpuNs: Long,
      gcMs: Long, shuffleReadB: Long, shuffleWriteB: Long, spillMemB: Long,
      spillDiskB: Long, tasks: Int)

  /** One finished job. `description` is the job description, else the
    * call site, else the name of its last stage. */
  final case class Job(id: Int, group: Option[String], description: String, secs: Double)

  /** A bench `smoke_detail` entry. Two clean same-code runs have disagreed
    * 2× on a curve point's WALL time with quiet boundary probes on both
    * sides (the round-14 dedup 8M point, 128.5 vs 264.9 s), so a single wall
    * sample near a pin cannot tell host steal from a regression.
    * `taskCpuS` (executor CPU, not wall) is steal-invariant: a regression
    * raises it, steal stretches wall and leaves it flat. Spill attributes
    * memory-ceiling superlinearity, `gcS` heap pressure, and the shuffle
    * volumes pin the data shape, which must match across same-code runs. */
  final case class Totals(taskWallS: Double, taskCpuS: Double, gcS: Double,
      shuffleReadMb: Long, shuffleWriteMb: Long, spillMemMb: Long, spillDiskMb: Long)

  final case class Report(stages: Seq[Stage], jobs: Seq[Job]) {
    def totals: Totals = Totals(round(stages.map(_.taskMs).sum / 1e3, 1),
      round(stages.map(_.cpuNs).sum / 1e9, 1), round(stages.map(_.gcMs).sum / 1e3, 1),
      stages.map(_.shuffleReadB).sum >> 20, stages.map(_.shuffleWriteB).sum >> 20,
      stages.map(_.spillMemB).sum >> 20, stages.map(_.spillDiskB).sum >> 20)

    /** The `top` stages by task time, one line each, under a header. */
    def stageTable(top: Int): Seq[String] =
      (f"${"stage"}%-92s ${"wall_s"}%8s ${"task_s"}%8s ${"shR_MB"}%8s " +
        f"${"shW_MB"}%8s ${"spillM"}%8s ${"spillD"}%8s ${"tasks"}%6s") +:
        stages.sortBy(-_.taskMs).take(top).map { s =>
          f"${s.name}%-92s ${s.wallMs / 1e3}%8.1f ${s.taskMs / 1e3}%8.1f " +
            f"${s.shuffleReadB >> 20}%8d ${s.shuffleWriteB >> 20}%8d ${s.spillMemB >> 20}%8d " +
            f"${s.spillDiskB >> 20}%8d ${s.tasks}%6d"
        }

    /** Every job in id order, then the jobs grouped by description,
      * costliest first: a multi-action query's time by internal pass. */
    def jobTable: Seq[String] =
      (s"${jobs.size} jobs" +:
        jobs.sortBy(_.id).map(j => f"job ${j.id}%3d  ${j.secs}%7.3f s  ${j.description}")) ++
        ("by call site:" +: jobs.groupBy(_.description).toSeq
          .map { case (d, js) => (d, js.size, js.map(_.secs).sum) }.sortBy(-_._3)
          .map { case (d, n, secs) => f"$secs%7.3f s  $n%3d jobs  $d" })
  }

  private final class Listener extends SparkListener {
    private val stages = mutable.ArrayBuffer[Stage]()
    private val started = mutable.Map[Int, (Long, Option[String], String)]()
    private val jobs = mutable.ArrayBuffer[Job]()

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      stages += Stage(si.name.takeWhile(_ != '\n').take(90),
        (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(0L),
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled, m.diskBytesSpilled, si.numTasks)
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      started(e.jobId) = (e.time, prop("spark.jobGroup.id"),
        prop("spark.job.description").orElse(prop("callSite.short"))
          .getOrElse(e.stageInfos.lastOption.fold("?")(_.name.takeWhile(_ != '\n').take(60))))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      started.remove(e.jobId).foreach { case (t0, group, description) =>
        jobs += Job(e.jobId, group, description, (e.time - t0) / 1e3)
      }
    }
    def report: Report = synchronized(Report(stages.toList, jobs.toList))
  }

  /** Runs `body` with a listener on `spark`'s context and returns its
    * result with every stage and job that completed meanwhile. The bus
    * is drained before the listener is removed, so a run's last events
    * are never dropped; a drain that times out throws. */
  def measure[T](spark: SparkSession)(body: => T): (T, Report) = {
    val sc = spark.sparkContext
    val listener = new Listener
    sc.addSparkListener(listener)
    try {
      val result = body
      ListenerBus.drain(sc)
      (result, listener.report)
    } finally sc.removeSparkListener(listener)
  }

  /** The bench timing protocol: one warm-up `count()` (codegen, shuffle
    * files, page cache), then 3 timed `count()`s, each after
    * dropping cache entries and a `System.gc` so leftover state from the
    * previous run does not pollute it. Seconds, sorted ascending. */
  def timeQuery(spark: SparkSession)(query: => DataFrame): IndexedSeq[Double] = {
    query.count()
    (1 to 3).map { _ =>
      spark.sharedState.cacheManager.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      query.count()
      (System.nanoTime() - t0) / 1e9
    }.sorted
  }

  /** `x` rounded half-up to `places` decimals, as `%.Nf` prints it. */
  def round(x: Double, places: Int): Double =
    BigDecimal(x).setScale(places, BigDecimal.RoundingMode.HALF_UP).toDouble
}
