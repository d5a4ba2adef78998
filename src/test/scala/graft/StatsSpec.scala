package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import org.apache.spark.SparkException
import org.apache.spark.graftbridge.ListenerBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.normalize.Normalizer
import graft.pipeline.IngestPipeline

/** The contract of [[Stats]]: a read returns the exact aggregate whether
  * or not an action reported it, never blocks, and never makes a job of
  * its own after an action that reported it. */
class StatsSpec extends SparkSpec {

  private def frame(n: Int): DataFrame = spark.range(0, n, 1, 4).toDF("id")

  /** Queries and jobs that `f` runs; jobs keyed by description. The bus
    * is drained first, so no earlier query's late event is counted. */
  private def measured[T](f: => T): (T, Int, Map[String, Int]) = {
    ListenerBus.drain(spark.sparkContext)
    val queries = new AtomicInteger()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        queries.incrementAndGet()
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        queries.incrementAndGet()
    }
    spark.listenerManager.register(listener)
    try {
      val (result, report) = Observe.measure(spark)(f)
      ListenerBus.drain(spark.sparkContext)
      (result, queries.get, report.jobs.groupBy(_.description).map { case (d, js) => d -> js.size })
    } finally spark.listenerManager.unregister(listener)
  }

  /** `f` within 60 s, or a failure instead of a hung suite. */
  private def within[T](f: => T): T = Await.result(Future(f), 60.seconds)

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  test("a read after the action that filled the cache equals count() and runs no job") {
    Lineage.scoped { scope =>
      val (df, stats) = Stats.observe(frame(1000).filter(col("id") % 3 === 0), "stats: spec")(
        count(lit(1)).as("n"), sum(col("id")).as("s"))
      scope.cached(df)
      df.write.mode("overwrite").parquet(Files.createTempDirectory("stats").resolve("p").toString)
      val (n, queries, jobs) = measured(within(stats.long("n")))
      assert(n == df.count())
      assert(stats.long("s") == (0 until 1000 by 3).map(_.toLong).sum)
      assert(queries == 0 && jobs.isEmpty, s"a reported stat ran $queries queries: $jobs")
    }
  }

  test("a second action over the cache leaves the value unchanged") {
    Lineage.scoped { scope =>
      val (df, stats) = Stats.observe(frame(500), "stats: spec")(count(lit(1)).as("n"))
      scope.cached(df)
      noop(df)
      noop(df.filter(col("id") > 10))
      assert(df.filter(col("id") < 7).count() == 7)
      assert(within(stats.long("n")) == 500)
    }
  }

  test("an early read runs one labelled fallback, does not block, and keeps its value") {
    Lineage.scoped { scope =>
      val (df, stats) = Stats.observe(frame(300), "stats: early read")(count(lit(1)).as("n"))
      scope.cached(df)
      val (n, queries, jobs) = measured(within(stats.long("n")))
      assert(n == 300)
      assert(queries == 1, s"fallback ran $queries queries")
      assert(jobs.keySet == Set("stats: early read"), jobs)
      // the value is kept: neither a later action nor a second read moves it
      noop(df)
      val (again, queries2, _) = measured(stats.long("n"))
      assert(again == 300 && queries2 == 0)
    }
  }

  test("a failed action does not make a later read hang or read a partial count") {
    val boom = udf { (id: Long) => if (id == 777) throw new IllegalStateException("boom") else id }
    Lineage.scoped { scope =>
      val (df, stats) = Stats.observe(frame(1000), "stats: after failure")(count(lit(1)).as("n"))
      scope.cached(df)
      intercept[SparkException](noop(df.select(boom(col("id")).as("id"))))
      assert(within(stats.long("n")) == 1000)
    }
  }

  test("a normalized source with an empty edge file still gets exact stage stats") {
    val dir = Files.createTempDirectory("stats_empty_edges")
    Files.writeString(dir.resolve("nodes.jsonl"), (1 to 5).map(i =>
      s"""{"id":"RAW:$i","name":"n$i","category":["biolink:NamedThing"]}""").mkString("\n"))
    Files.writeString(dir.resolve("edges.jsonl"), "")
    val loader = new IngestPipeline.SourceLoader {
      val sourceId = "EMPTYEDGES"
      def parse(s: SparkSession): (DataFrame, DataFrame) =
        (s.read.json(dir.resolve("nodes.jsonl").toString),
          s.read.schema("subject string, predicate string, object string")
            .json(dir.resolve("edges.jsonl").toString))
      override def nodeNormMap(s: SparkSession): Option[DataFrame] =
        Some(Normalizer.nodeMapDf(s, (1 to 4).map(i =>
          Normalizer.NodeNormEntry(s"RAW:$i", s"NORM:$i", s"name $i"))))
      override def predicateNormMap(s: SparkSession): Option[DataFrame] =
        Some(Normalizer.predicateMapDf(s, Nil))
    }
    val r = within(IngestPipeline.runSource(spark, loader,
      Files.createTempDirectory("stats_empty_out").toString))
    assert(r.stages.map(s => s"${s.stage}: ${s.detail}") == Seq(
      "parsing: nodes=5 edges=0",
      "normalization: nodes=4 failures=1 edges=0 splits=0 failed_edges=0 loops=0",
      "supplementation: not needed"))
    assert(r.nodes.count() == 0 && r.edges.count() == 0)
  }

  test("the read-back schema equals what spark.read.parquet infers") {
    val dir = Files.createTempDirectory("stats_schema")
    Files.writeString(dir.resolve("nodes.jsonl"), Seq(
      """{"id":"X:1","name":"one","category":["biolink:Gene"],"info":{"score":1.5,"tags":["a"]}}""",
      """{"id":"X:2","name":"two","category":["biolink:Gene"],"info":{"score":2.5,"tags":[]}}""")
      .mkString("\n"))
    Files.writeString(dir.resolve("edges.jsonl"),
      """{"subject":"X:1","predicate":"biolink:related_to","object":"X:2","weights":[1,2]}""")
    val loader = new IngestPipeline.SourceLoader {
      val sourceId = "READBACK"
      def parse(s: SparkSession): (DataFrame, DataFrame) =
        (s.read.json(dir.resolve("nodes.jsonl").toString)
          .withColumn("attrs", map(lit("k"), col("name"))),
          s.read.json(dir.resolve("edges.jsonl").toString))
    }
    val out = Files.createTempDirectory("stats_schema_out").toString
    val r = IngestPipeline.runSource(spark, loader, out)
    val version = Paths.get(out, "READBACK", r.buildVersion)
    assert(r.nodes.schema == spark.read.parquet(version.resolve("nodes.parquet").toString).schema)
    assert(r.edges.schema == spark.read.parquet(version.resolve("edges.parquet").toString).schema)
    assert(r.nodes.count() == 2 && r.edges.count() == 1)
  }
}
