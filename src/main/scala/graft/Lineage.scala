package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.graftbridge.ListenerBus
import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.util.{ExecutionListenerManager, QueryExecutionListener}
import org.apache.spark.storage.StorageLevel

/** The frames one computation caches, released newest first when the
  * scope closes. Newest first because `Dataset.unpersist` does not
  * cascade: Spark recompiles a dependent cache whose buffers are not yet
  * loaded, and no older frame can depend on a newer one. Tasks of
  * [[Lineage.concurrently]] may share a scope. */
final class Scope private[graft] () {
  private var held = List.empty[Dataset[_]]

  /** Register `ds`, then `persist()` it at the session's default cache
    * storage level (`spark.sql.defaultCacheStorageLevel`). A frame whose
    * plan is cached already comes back as it is, unregistered: its cache
    * belongs to whoever made it. */
  def cached[T](ds: Dataset[T]): Dataset[T] = synchronized {
    if (ds.storageLevel != StorageLevel.NONE) ds
    else {
      held = ds :: held
      ds.persist()
    }
  }

  /** Free `ds` now, ahead of the scope's close. */
  def release(ds: Dataset[_]): Unit = {
    synchronized { held = held.filterNot(_ eq ds) }
    Lineage.release(ds)
  }

  /** Release every frame still registered; a closed scope is empty. */
  def close(): Unit = {
    val frames = synchronized { val f = held; held = Nil; f }
    frames.foreach(Lineage.release)
  }
}

/** Aggregates over a frame, computed by the action that runs the frame
  * anyway. [[Stats.observe]] puts them on the frame as a
  * `Dataset.observe`; an observed frame registered with [[Scope.cached]]
  * has them reported once, by the action that fills the cache, and a
  * later action over the cache leaves them unchanged.
  *
  * A read takes the reported values when an action that succeeded
  * reported them. Otherwise — a read before any action, an action that
  * failed, or AQE pruning the frame out of the plan that ran (a join whose
  * other side is empty) — it runs the same aggregates once, as a job
  * labelled `label`, over the observed frame. Either way it keeps what it
  * got, so a value never depends on whether the observation fired, and a
  * read never waits on an observation that has not.
  *
  * Observations complete on the listener bus, after their action has
  * returned, so a read drains the bus before it looks. Spark rejects
  * distinct aggregates in observed metrics; every aggregate is named. */
final class Stats private (frame: Dataset[_], observation: Observation,
                           aggs: Seq[Column], label: String) {
  private var row: Row = _

  /** The aggregate named `name`; a null (a sum over no rows) reads 0. */
  def long(name: String): Long = {
    val r = value
    val i = r.fieldIndex(name)
    if (r.isNullAt(i)) 0L else r.getLong(i)
  }

  private def value: Row = synchronized {
    if (row == null) row = reported.getOrElse(fallback())
    row
  }

  private def reported: Option[Row] = {
    if (!observation.future.isCompleted) ListenerBus.drain(frame.sparkSession.sparkContext)
    observation.future.value.flatMap(_.toOption)
      .filter(r => r.length > 0 && !Stats.FailedActions(observation.name))
  }

  private def fallback(): Row =
    Lineage.labeled(frame.sparkSession.sparkContext, label)(frame.agg(aggs.head, aggs.tail: _*).head())
}

object Stats {

  /** `ds` with `aggs` observed on it, and the [[Stats]] that reads them.
    * Consume the returned frame, not `ds`: only its actions report. */
  def observe[T](ds: Dataset[T], label: String)(aggs: Column*): (Dataset[T], Stats) = {
    FailedActions.watch(ds.sparkSession)
    val observation = Observation()
    val observed = ds.observe(observation, aggs.head, aggs.tail: _*)
    (observed, new Stats(observed, observation, aggs, label))
  }

  /** Names of the observations in plans whose action failed: Spark
    * completes those with whatever the finished tasks had counted. */
  private object FailedActions extends QueryExecutionListener {
    private val names = ConcurrentHashMap.newKeySet[String]()
    private val watched = java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[ExecutionListenerManager, java.lang.Boolean]()))

    def apply(name: String): Boolean = names.contains(name)

    def watch(spark: SparkSession): Unit =
      if (watched.add(spark.listenerManager)) spark.listenerManager.register(this)

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = ()

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      qe.logical.foreach {
        case c: CollectMetrics => names.add(c.name)
        case _ =>
      }
  }
}

/** Who frees a cached or checkpointed frame, in one place. The rule:
  *  - A generation of an iterative loop (PageRank, KCore,
  *    LabelPropagation, ShortestPaths, Walks, dedup Components, Bpe,
  *    KCenter) is cut, materialized and freed by [[iterate]]; the caller
  *    owns only the generation it returns.
  *  - Every other cache is made by [[Scope.cached]], which registers the
  *    frame before its first action. Leaving [[scoped]], normally or by a
  *    throw, releases whatever is still registered; [[Scope.release]]
  *    frees a frame earlier.
  *  - A cache that outlives its function registers in a scope its caller
  *    closes: one passed in, or one [[owned]] hands to the result.
  *  - A read of a freed cache recomputes it, so a result that must not
  *    re-run its cached inputs is cut from them (an eager
  *    `localCheckpoint`) inside the body, before the close.
  * Nothing else under `src/main/scala` calls `persist`, `cache` or
  * `unpersist`; ScopeSpec fails on a new call site.
  */
object Lineage {

  /** Runs `body` with a fresh scope and closes it on the way out. */
  def scoped[T](body: Scope => T): T = {
    val scope = new Scope
    try body(scope) finally scope.close()
  }

  /** [[scoped]] for caches that outlive `body`: the scope is closed here
    * only if `body` throws; otherwise `body`'s result owns it and must
    * close it. */
  def owned[T](body: Scope => T): T = {
    val scope = new Scope
    try body(scope)
    catch { case t: Throwable => scope.close(); throw t }
  }

  /** Runs up to `n` generations from `seed` and returns the last one.
    *
    * Generation i is `step(previous, seen, i)`, where `seen` is what
    * `observe` returned for the previous generation; for generation 1 it
    * is the `seen` given here, the caller's own observation of `seed`
    * (taken when it materialized the seed, if it did). Each generation
    * is cut by a LAZY `localCheckpoint` and filled by its one `observe`
    * action; all of its jobs carry the description "`label` i/n". The
    * superseded generation is then released. The loop stops early after
    * a generation whose observation `latest` satisfies
    * `until(previous, latest)`, `previous` being the one before it.
    *
    * The checkpoint keeps the plan from growing per generation: with
    * `persist` every action re-analyzed the whole history (the q74
    * finding, O(n²) planning). Its cost is that a local checkpoint is NOT
    * recomputable: losing an executor that holds its blocks fails the job.
    *
    * The seed is handed over: with n = 0 it comes back checkpointed and
    * released, and if a step, an action or `until` throws, the seed and
    * every generation made so far are released before the exception
    * propagates. The caller owns the returned generation. */
  def iterate[A](label: String, seed: DataFrame, n: Int, seen: A)(
      step: (DataFrame, A, Int) => DataFrame,
      observe: DataFrame => A,
      until: (A, A) => Boolean = (_: A, _: A) => false): DataFrame = {
    val sc = seed.sparkSession.sparkContext
    var gen = seed
    var next: DataFrame = null
    try {
      if (n <= 0) {
        next = seed.localCheckpoint()
        release(seed)
      } else {
        var obs = seen
        var i = 0
        var done = false
        while (i < n && !done) {
          i += 1
          val o = labeled(sc, s"$label $i/$n") {
            next = step(gen, obs, i).localCheckpoint(eager = false)
            observe(next)
          }
          release(gen)
          gen = next
          done = until(obs, o)
          obs = o
        }
      }
      next
    } catch {
      case t: Throwable =>
        if (next != null) release(next)
        release(gen)
        throw t
    }
  }

  /** Runs `body` with its jobs described as `desc`, then gives the
    * calling thread back the description it had. */
  def labeled[T](sc: SparkContext, desc: String)(body: => T): T = {
    val caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(caller)
  }

  /** Runs `tasks` at once and returns their results in input order.
    *
    * Each task runs on a daemon thread named `graft-concurrent-N`, one of
    * min(tasks, cores) made for this call; a single task runs inline on
    * the caller's thread. The threads are made on the caller's thread, so
    * each starts with a copy of the caller's local properties (job group,
    * description, scheduler pool, custom keys) and its active session:
    * Spark keeps both in inheritable thread-locals, and a child's
    * properties are a clone of its parent's. A thread that runs a second
    * task carries what the first one left set; a task that sets a
    * property restores it, as [[labeled]] does. The call waits for every
    * task, also after one has thrown, and then rethrows the first failure
    * in input order with the others attached as suppressed. No thread
    * outlives the call.
    *
    * The rule for callers: two concurrent tasks must never both fill the
    * same cached frame while a [[Stats]] observation sits below it. An
    * observation reports once, from the first action to finish, so a fill
    * split between two jobs reports a short count. Fill such a cache
    * first, with one action, then read it concurrently. */
  def concurrently[T](tasks: Seq[() => T]): Seq[T] =
    if (tasks.size <= 1) tasks.map(_())
    else {
      val outcomes = new Array[Either[Throwable, T]](tasks.size)
      val next = new AtomicInteger
      val workers = Seq.fill(math.min(tasks.size, Runtime.getRuntime.availableProcessors)) {
        val t = new Thread(() => {
          var i = next.getAndIncrement()
          while (i < tasks.size) {
            outcomes(i) = try Right(tasks(i)()) catch { case e: Throwable => Left(e) }
            i = next.getAndIncrement()
          }
        }, s"graft-concurrent-${threads.incrementAndGet()}")
        t.setDaemon(true)
        t.start()
        t
      }
      // an interrupt of the caller reaches the tasks; the wait goes on
      var interrupted = false
      workers.foreach { w =>
        while (w.isAlive) try w.join() catch {
          case _: InterruptedException => interrupted = true; workers.foreach(_.interrupt())
        }
      }
      if (interrupted) Thread.currentThread().interrupt()
      outcomes.collect { case Left(e) => e }.toList match {
        case first :: rest =>
          rest.filterNot(_ eq first).foreach(first.addSuppressed)
          throw first
        case Nil => outcomes.toSeq.collect { case Right(r) => r }
      }
    }

  private val threads = new AtomicInteger

  /** Eagerly free a cached or checkpointed frame; a frame that is
    * neither is left alone, so a second release is a no-op. Safe ONLY
    * after every consumer of `df` has fully materialized: a local
    * checkpoint is not recomputable — a later read of the freed blocks
    * fails the job. A cached frame leaves the cache manager through
    * `unpersist()` — also when its plan is a bare LogicalRDD, as for
    * `spark.read.json` over a Dataset. `unpersist()` is a no-op for a
    * checkpointed frame (it is not in the cache manager), so the
    * checkpointed RDD itself is unpersisted. Both are non-blocking. */
  def release(df: Dataset[_]): Unit =
    if (df.storageLevel != StorageLevel.NONE) df.unpersist()
    else df.queryExecution.analyzed match {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ =>
    }
}
