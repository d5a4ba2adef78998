package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.graftbridge.ListenerBus
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** [[Lineage.concurrently]]: results in input order, the caller's local
  * properties and session on every task, every task awaited, failures
  * rethrown in input order, and no thread left behind. */
class ConcurrentlySpec extends SparkSpec {

  private def sc = spark.sparkContext
  private def liveWorkers() =
    Thread.getAllStackTraces.keySet.asScala.filter(t => t.getName.startsWith("graft-concurrent") && t.isAlive)

  /** One small Spark job. */
  private def job(i: Int): Long = spark.range(0, 10 + i, 1, 2).selectExpr("sum(id)").head().getLong(0)

  test("results come back in input order") {
    // later tasks finish first
    val got = Lineage.concurrently((0 until 6).map(i => () => { Thread.sleep((6 - i) * 40L); i }))
    assert(got == (0 until 6))
    assert(Lineage.concurrently(Seq.empty[() => Int]).isEmpty)
  }

  test("the job group, description and custom local properties reach every task's jobs") {
    val group = s"concurrently-${java.util.UUID.randomUUID()}"
    val custom = "graft.test.concurrently"
    val customSeen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group)
          customSeen.add(String.valueOf(e.properties.getProperty(custom)))
    }
    sc.setJobGroup(group, "caller phase")
    sc.setLocalProperty(custom, "from caller")
    sc.addSparkListener(listener)
    try {
      val (sums, report) = Observe.measure(spark)(Lineage.concurrently((0 until 4).map(i => () => {
        assert(SparkSession.getActiveSession.contains(spark))
        // a task's own description stays on its thread
        if (i == 3) Lineage.labeled(sc, "task 3")(job(i)) else job(i)
      })))
      ListenerBus.drain(sc)
      assert(sums == (0 until 4).map(i => (0L until 10 + i).sum))
      // every task runs the same jobs: three tasks' under the caller's description
      val descriptions = report.jobs.filter(_.group.contains(group)).map(_.description)
      assert(descriptions.toSet == Set("caller phase", "task 3"))
      assert(descriptions.count(_ == "caller phase") == 3 * descriptions.count(_ == "task 3"))
      assert(customSeen.asScala.toSet == Set("from caller") && customSeen.size == descriptions.size)
      assert(sc.getLocalProperty("spark.job.description") == "caller phase")
      assert(sc.getLocalProperty(custom) == "from caller")
    } finally {
      sc.removeSparkListener(listener)
      sc.setLocalProperty(custom, null)
      sc.clearJobGroup()
    }
  }

  test("a failing task lets its siblings finish; the first failure in input order is rethrown") {
    val finished = new ConcurrentLinkedQueue[Int]()
    val first = new IllegalStateException("task 1")
    val third = new IllegalArgumentException("task 3")
    val thrown = intercept[IllegalStateException](Lineage.concurrently((0 until 5).map(i => () => {
      i match {
        case 1 => Thread.sleep(150); throw first // fails after task 3 has
        case 3 => throw third
        case _ => Thread.sleep(300); job(i); finished.add(i)
      }
    })))
    assert(thrown eq first)
    assert(thrown.getSuppressed.toSeq == Seq(third))
    assert(finished.asScala.toSet == Set(0, 2, 4))
    assert(liveWorkers().isEmpty, s"threads outlived the call: ${liveWorkers()}")
  }

  test("a single task runs inline on the caller's thread") {
    val caller = Thread.currentThread()
    assert(Lineage.concurrently(Seq(() => Thread.currentThread())) == Seq(caller))
    assert(intercept[IllegalStateException](Lineage.concurrently(Seq(() =>
      throw new IllegalStateException("inline")))).getMessage == "inline")
  }
}
