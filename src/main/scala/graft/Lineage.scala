package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The generation loop of the iterative operators (PageRank, KCore,
  * LabelPropagation, ShortestPaths, Walks, dedup Components, Bpe): how a
  * generation is cut from its lineage, materialized and freed lives in
  * [[iterate]], and nowhere else.
  */
object Lineage {

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
    val callerDescription = sc.getLocalProperty("spark.job.description")
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
          sc.setJobDescription(s"$label $i/$n")
          val o = try {
            next = step(gen, obs, i).localCheckpoint(eager = false)
            observe(next)
          } finally sc.setJobDescription(callerDescription)
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

  /** Eagerly free a SUPERSEDED generation. Safe ONLY after every
    * consumer of `df` has fully materialized: a local checkpoint is not
    * recomputable — a later read of the freed blocks fails the job.
    * `Dataset.unpersist()` is a no-op for a checkpointed frame (it is not
    * in the cache manager), so the checkpointed RDD itself is unpersisted;
    * a cached frame (e.g. a persisted seed) falls back to `unpersist()`. */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case l: LogicalRDD => l.rdd.unpersist(blocking = false)
    case _ => df.unpersist()
  }
}
