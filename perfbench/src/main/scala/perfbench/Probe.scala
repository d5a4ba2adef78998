package perfbench

import java.util.Properties
import scala.collection.mutable
import org.apache.spark.perfbench.ListenerBusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.RDDBlockId
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.WriteFilesExec
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch clock with nanosecond resolution. Spark stamps its events in
  * epoch milliseconds and spans need finer durations, so both share one
  * origin. */
object Clock {
  private val originNano = System.nanoTime()
  private val originEpochNs = System.currentTimeMillis() * 1000000L
  def nowNs: Long = originEpochNs + (System.nanoTime() - originNano)
}

/** Splits one public call into layers by the job descriptions the program
  * already sets: the first rule whose key the description contains names
  * the layer. */
final case class Splitter(rules: Seq[(String, String)], default: String) {
  def layerOf(desc: String): Option[String] =
    Option(desc).flatMap(d => rules.collectFirst { case (k, l) if d.contains(k) => l })
}

final case class Span(id: Int, parent: Int, pass: Int, name: String, layer: String,
                      split: Option[Splitter], startNs: Long, var endNs: Long = 0L)

/** Figures of one pass that every run records, traced or not. */
final case class Totals(var shuffleBytes: Long = 0L, var spillBytes: Long = 0L,
                        var failedTasks: Long = 0L, var peakCachedBytes: Long = 0L)

/** A contiguous piece of a leaf span assigned to one layer. */
final case class Interval(layer: String, startNs: Long, endNs: Long, span: Span) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records what the benchmark needs from Spark: per-pass shuffle, spill,
  * failed tasks and cached-block bytes on every run; and on traced passes
  * spans, tasks, jobs and Catalyst phases, attributed to the innermost
  * span through the Spark local property [[Probe.SpanProp]]. */
final class Probe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Probe._
  private val sc = spark.sparkContext

  private final case class Tag(pass: Int, span: Int, desc: String)
  private final case class TaskRec(tag: Tag, submitMs: Long, launchMs: Long, finishMs: Long,
                                   cpuNs: Long, shuffleBytes: Long, spillBytes: Long)
  private final case class JobRec(tag: Tag, startMs: Long, var endMs: Long)
  private final case class PhaseRec(startMs: Long, endMs: Long)

  private val stageTags = mutable.HashMap[Int, (Tag, Long)]()
  private val jobs = mutable.ArrayBuffer[(Int, JobRec)]()
  private val tasks = mutable.ArrayBuffer[TaskRec]()
  private val phases = mutable.ArrayBuffer[PhaseRec]()
  private val totals = mutable.HashMap[Int, Totals]()
  private val tracedPasses = mutable.HashSet[Int]()
  private val blocks = mutable.HashMap[(Int, Int), Long]()
  private var cachedBytes = 0L
  private val cachedSeries = mutable.ArrayBuffer[(Long, Long)]()
  private var activePass = -1
  private var spanStack = List.empty[Span]
  val spans = mutable.ArrayBuffer[Span]()

  /** Columns each write query wrote, recorded only while set (tests). */
  @volatile var recordWrites = false
  val writes = mutable.ArrayBuffer[Seq[String]]()

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  def drain(): Unit = ListenerBusAccess.drain(sc)

  def beginPass(pass: Int, traced: Boolean): Unit = {
    drain()
    synchronized {
      activePass = pass
      totals(pass) = Totals(peakCachedBytes = cachedBytes)
      if (traced) { tracedPasses += pass; cachedSeries += ((Clock.nowNs, cachedBytes)) }
    }
    sc.setLocalProperty(PassProp, pass.toString)
  }

  def endPass(pass: Int): Totals = {
    sc.setLocalProperty(PassProp, null)
    drain()
    synchronized { activePass = -1; totals(pass) }
  }

  /** Run `f` inside a span; jobs it submits carry the span id. */
  def span[T](name: String, layer: String, split: Option[Splitter] = None)(f: => T): T = {
    val s = synchronized {
      val s = Span(spans.size, spanStack.headOption.map(_.id).getOrElse(-1), activePass,
        name, layer, split, Clock.nowNs)
      spans += s
      s
    }
    spanStack = s :: spanStack
    sc.setLocalProperty(SpanProp, s.id.toString)
    try f
    finally {
      s.endNs = Clock.nowNs
      spanStack = spanStack.tail
      sc.setLocalProperty(SpanProp, spanStack.headOption.map(_.id.toString).orNull)
    }
  }

  private def tagOf(p: Properties): Tag =
    if (p == null) Tag(-1, -1, null)
    else Tag(Option(p.getProperty(PassProp)).map(_.toInt).getOrElse(-1),
      Option(p.getProperty(SpanProp)).map(_.toInt).getOrElse(-1),
      p.getProperty("spark.job.description"))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val t = tagOf(e.properties)
    if (tracedPasses(t.pass)) jobs += ((e.jobId, JobRec(t, e.time, e.time)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.reverseIterator.find(_._1 == e.jobId).foreach(_._2.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageTags(e.stageInfo.stageId) =
      (tagOf(e.properties), e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageTags.get(e.stageId).foreach { case (tag, submitMs) =>
      totals.get(tag.pass).foreach { t =>
        val m = Option(e.taskMetrics)
        val shuffle = m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L)
        val spill = m.map(_.diskBytesSpilled).getOrElse(0L)
        t.shuffleBytes += shuffle
        t.spillBytes += spill
        if (e.reason != org.apache.spark.Success) t.failedTasks += 1
        if (tracedPasses(tag.pass))
          tasks += TaskRec(tag, submitMs, e.taskInfo.launchTime, e.taskInfo.finishTime,
            m.map(_.executorCpuTime).getOrElse(0L), shuffle, spill)
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    i.blockId match {
      case b: RDDBlockId =>
        val key = (b.rddId, b.splitIndex)
        val size = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
        cachedBytes += size - blocks.getOrElse(key, 0L)
        if (size == 0L) blocks.remove(key) else blocks(key) = size
        cachedChanged()
      case _ =>
    }
  }

  /** Unpersisting an RDD removes its blocks without a block-update event. */
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val gone = blocks.keys.filter(_._1 == e.rddId).toSeq
    gone.foreach(k => cachedBytes -= blocks.remove(k).getOrElse(0L))
    if (gone.nonEmpty) cachedChanged()
  }

  private def cachedChanged(): Unit = if (activePass >= 0) {
    totals.get(activePass).foreach(t => t.peakCachedBytes = math.max(t.peakCachedBytes, cachedBytes))
    if (tracedPasses(activePass)) cachedSeries += ((Clock.nowNs, cachedBytes))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    val recs = Seq("analysis", "optimization", "planning").flatMap(ph.get)
      .map(p => PhaseRec(p.startTimeMs, p.endTimeMs))
    val written = if (recordWrites) writtenColumns(qe.executedPlan) else None
    synchronized {
      phases ++= recs
      written.foreach(writes += _)
    }
  }

  /** The pieces of every leaf span of `pass`, each assigned to a layer. A
    * split span is cut at the end of the last job of each described phase,
    * in order; the time up to a cut belongs to that phase's layer and the
    * tail after the last cut to the last phase. */
  private def intervals(pass: Int): Seq[Interval] = {
    val ps = spans.filter(_.pass == pass)
    val leaves = ps.filterNot(s => ps.exists(_.parent == s.id))
    leaves.toSeq.flatMap { s =>
      s.split match {
        case None => Seq(Interval(s.layer, s.startNs, s.endNs, s))
        case Some(sp) =>
          val js = jobs.map(_._2).filter(_.tag.span == s.id).sortBy(_.startMs)
          val order = js.flatMap(j => sp.layerOf(j.tag.desc)).distinct
          var prev = s.startNs
          val segs = order.map { l =>
            val cut = js.filter(j => sp.layerOf(j.tag.desc).contains(l)).map(_.endMs).max * 1000000L
            val end = math.min(math.max(cut, prev), s.endNs)
            val seg = Interval(l, prev, end, s)
            prev = end
            seg
          }
          if (segs.isEmpty) Seq(Interval(sp.default, s.startNs, s.endNs, s))
          else segs.init :+ segs.last.copy(endNs = s.endNs)
      }
    }
  }

  private def layerOf(ivs: Seq[Interval], tag: Tag, atMs: Long): String =
    if (tag.span < 0 || tag.span >= spans.size) Unattributed
    else {
      val s = spans(tag.span)
      s.split match {
        case None => s.layer
        case Some(sp) => sp.layerOf(tag.desc).getOrElse {
          val mine = ivs.filter(_.span eq s)
          mine.find(iv => atMs * 1000000L < iv.endNs).orElse(mine.lastOption)
            .map(_.layer).getOrElse(sp.default)
        }
      }
    }

  /** Per-layer measures of a traced pass, and the part of the pass's root
    * span that no leaf span covers. Call after [[endPass]]. */
  def layerReport(pass: Int): (Map[String, Map[String, Double]], Double) = synchronized {
    val ivs = intervals(pass)
    val root = spans.find(s => s.pass == pass && s.parent < 0)
    val uncovered = root.map(r => (r.endNs - r.startNs) / 1e9 - ivs.map(_.seconds).sum).getOrElse(0.0)
    val passTasks = tasks.filter(_.tag.pass == pass)
    val taskLayer = passTasks.map(t => t -> layerOf(ivs, t.tag, t.submitMs))
    val passJobs = jobs.map(_._2).filter(_.tag.pass == pass)
    val series = cachedSeries.sortBy(_._1)
    def cachedAt(ns: Long): Long = series.takeWhile(_._1 <= ns).lastOption.map(_._2).getOrElse(0L)
    val report = ivs.groupBy(_.layer).map { case (layer, mine) =>
      val ts = taskLayer.collect { case (t, l) if l == layer => t }
      val busyNs = mine.map { iv =>
        val clipped = ts.map(t => (math.max(t.launchMs * 1000000L, iv.startNs),
            math.min(t.finishMs * 1000000L, iv.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L; var reach = iv.startNs
        clipped.foreach { case (a, b) =>
          if (b > reach) { covered += b - math.max(a, reach); reach = b }
        }
        covered
      }.sum
      val wall = mine.map(_.seconds).sum
      val inLayer = (ms: Long) => mine.exists(iv => ms * 1000000L >= iv.startNs && ms * 1000000L < iv.endNs)
      val plan = phases.filter(p => inLayer(p.startMs)).map(p => (p.endMs - p.startMs) / 1e3).sum
      val peak = mine.map { iv =>
        (cachedAt(iv.startNs) +: series.filter(x => x._1 > iv.startNs && x._1 <= iv.endNs).map(_._2)).max
      }.max
      layer -> Map(
        "wall_s" -> wall,
        "task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
        "idle_s" -> math.max(0.0, wall - busyNs / 1e9),
        "plan_s" -> plan,
        "jobs" -> passJobs.count(j => layerOf(ivs, j.tag, j.startMs) == layer).toDouble,
        "shuffle_mb" -> ts.map(_.shuffleBytes).sum / 1e6,
        "spill_mb" -> ts.map(_.spillBytes).sum / 1e6,
        "peak_cached_mb" -> peak / 1e6)
    }
    (report, uncovered)
  }

  /** Spans of every traced pass as JSON-lines records, with the layer
    * pieces of each split span as its children. */
  def spanRecords: Seq[Map[String, Any]] = synchronized {
    def rec(id: String, parent: String, pass: Int, name: String, layer: String,
            s: Long, e: Long) = Map("id" -> id, "parent" -> parent, "pass" -> pass,
      "name" -> name, "layer" -> layer, "start_s" -> s / 1e9, "end_s" -> e / 1e9)
    spans.toSeq.flatMap { s =>
      val own = rec(s.id.toString, if (s.parent < 0) null else s.parent.toString, s.pass,
        s.name, s.layer, s.startNs, s.endNs)
      val pieces = if (s.split.isEmpty) Nil else intervals(s.pass).filter(_.span eq s)
        .zipWithIndex.map { case (iv, k) =>
          rec(s"${s.id}.$k", s.id.toString, s.pass, iv.layer, iv.layer, iv.startNs, iv.endNs)
        }
      own +: pieces
    }
  }
}

object Probe {
  val PassProp = "perfbench.pass"
  val SpanProp = "perfbench.span"
  val Unattributed = "unattributed"

  /** Output columns of the query under the first write node of a plan
    * (file writes wrap it as DataWritingCommandExec → WriteFilesExec). */
  def writtenColumns(plan: SparkPlan): Option[Seq[String]] = plan match {
    case a: AdaptiveSparkPlanExec => writtenColumns(a.executedPlan)
    case q: QueryStageExec => writtenColumns(q.plan)
    case c: CommandResultExec => writtenColumns(c.commandPhysicalPlan)
    case w: DataWritingCommandExec => writtenColumns(w.child).orElse(Some(w.child.output.map(_.name)))
    case w: WriteFilesExec => Some(w.child.output.map(_.name))
    case w: V2TableWriteExec => Some(w.query.output.map(_.name))
    case other => other.children.view.flatMap(c => writtenColumns(c)).headOption
  }
}
