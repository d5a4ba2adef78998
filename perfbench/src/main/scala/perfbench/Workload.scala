package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** A workload: inputs generated from a seed, then passes over them. */
trait Workload {
  def name: String
  /** Layers this workload's traced pass records. */
  def layers: Seq[String]
  /** Generate the inputs under `dir`. The program sees only these inputs,
    * never the seed. */
  def generate(spark: SparkSession, seed: Long, dir: String): Inputs
}

trait Inputs {
  /** The input rows `rows_per_s` counts. */
  def rows: Long
  /** One pass: the program's public calls, every output written. */
  def pass(ctx: Ctx): PassOut
  /** Drop the inputs (cached frames and files). */
  def release(): Unit
}

/** What a pass hands back: checks run after the timed region. */
trait PassOut {
  /** Failed checks; empty when every output is correct. */
  def check(): Seq[String]
  /** Bytes the pass wrote to its on-disk outputs. */
  def outputBytes: Long
  /** Free the storage behind the result frames the pass was handed. */
  def release(): Unit = ()
  /** Workload figures for the per-layer report, e.g. candidate yield. */
  def facts: Map[String, Double] = Map.empty
}

/** What a pass materialized, in order, while the probe records writes:
  * the columns of each frame a library call returned, and the columns
  * each executed write plan produced. */
sealed trait Materialized { def layer: String; def columns: Seq[String] }
final case class Returned(layer: String, columns: Seq[String]) extends Materialized
final case class Written(layer: String, columns: Seq[String]) extends Materialized

/** The handle a pass runs with: its output directory, and spans that are
  * recorded only on traced passes. */
final class Ctx(val spark: SparkSession, val dir: String, val traced: Boolean, probe: Probe,
                val materialized: ArrayBuffer[Materialized] = ArrayBuffer()) {
  private var current = "pass"

  /** The same pass, writing under a subdirectory. */
  def sub(name: String): Ctx = new Ctx(spark, s"$dir/$name", traced, probe, materialized)

  def layer[T](name: String)(f: => T): T = recording(name)(if (traced) probe.span(name, name)(f) else f)

  def split[T](name: String, splitter: Splitter)(f: => T): T =
    recording(name)(if (traced) probe.span(name, splitter.default, Some(splitter))(f) else f)

  /** Note the columns of a frame a library call returned; the frame is
    * returned unchanged. */
  def result(df: DataFrame): DataFrame = {
    if (probe.recordWrites) materialized += Returned(current, df.columns.toSeq)
    df
  }

  /** Timed action that writes every column of `df` to parquet. */
  def sink(df: DataFrame, path: String): Unit = df.write.mode("overwrite").parquet(path)

  /** Timed action that computes every column of `df` and discards it. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Run `f` as `name`; while the probe records writes, note the write
    * plans `f` executed. */
  private def recording[T](name: String)(f: => T): T =
    if (!probe.recordWrites) f
    else {
      val prev = current
      probe.drain()
      val before = probe.synchronized(probe.writes.size)
      current = name
      try f
      finally {
        current = prev
        probe.drain()
        probe.synchronized(probe.writes.drop(before).toSeq).foreach(cols => materialized += Written(name, cols))
      }
    }
}

object Files2 {
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }

  def sizeOf(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
    }

  def list(p: Path): Set[String] =
    if (!Files.exists(p)) Set.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.map(_.toString).toSet finally s.close()
    }

  def path(first: String, more: String*): Path = Paths.get(first, more: _*)
}

object Frames {
  /** Unpersist `df` and every checkpointed RDD its plan reads. Results of
    * the iterative operators are views over local-checkpoint blocks that
    * the caller owns once the call returns. */
  def release(df: DataFrame): Unit = {
    df.queryExecution.analyzed.foreach {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ =>
    }
    df.unpersist(blocking = false)
  }
}
