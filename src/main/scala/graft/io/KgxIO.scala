package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** KGX jsonl bundle I/O (SURVEY §2.1 S1, §2.2 K1/K2).
  *
  * Reference: stream-parsed jsonl (orion/utils.py:468-475), dedup-on-write
  * via an in-memory id set (orion/kgx_file_writer.py:64-93), gzip bundles
  * (orion/kgx_bundle.py:75-102). Spark-first: `spark.read.json` (gz is
  * transparent, splittable parquet for intermediates), compression is a
  * writer option. The writer does not dedup: a merged bundle's ids are
  * unique already (the merge folds each id to one row), and a caller
  * that writes unmerged rows applies `dropDuplicates("id")` itself.
  */
object KgxIO {

  /** Expand a path (file, directory, or glob) to its concrete data files in
    * SORTED path order, via the Hadoop FS API (works on any FileSystem).
    * Merge semantics are first-truthy-wins in ordinal order, and the ordinal
    * derives from scan order — so the file list feeding a scan must not
    * depend on FS listing order (OS-/HDFS-dependent). Sorting here pins it. */
  def resolveSorted(spark: SparkSession, path: String): Seq[String] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(hconf)
    val matched = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Nil)
    val files = matched.flatMap { st =>
      if (st.isDirectory)
        fs.listStatus(st.getPath).toSeq.filter(_.isFile)
          .filterNot(f => { val n = f.getPath.getName; n.startsWith("_") || n.startsWith(".") })
      else Seq(st)
    }
    if (files.isEmpty) Seq(path) // let Spark surface the read error
    else files.map(_.getPath.toString).sorted
  }

  /** S1 — read one or more KGX jsonl(.gz) file sets with per-file schema
    * inference unioned by name (SURVEY §1.2 strategy (a)). Each path's file
    * set is resolved and sorted, and every row carries a `_file_rank`
    * column = its file's index in that sorted list. Passing sorted paths
    * to the reader is NOT enough for ordering: Spark bin-packs scan splits
    * by descending file size, so partition order (and thus
    * monotonically_increasing_id) follows size, not the given order. The
    * explicit rank is what MergeEngine.withOrdinal folds into merge
    * ordinals so first-truthy-wins follows sorted file order — the
    * reference's per-source file iteration order. */
  def readJsonl(spark: SparkSession, paths: Seq[String]): DataFrame = {
    require(paths.nonEmpty, "no input files")
    paths.map { p =>
      val files = resolveSorted(spark, p)
      val rank = fileRankColumn(files)
      spark.read.json(files: _*).withColumn("_file_rank", rank)
    }.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
  }

  /** input_file_name() → index in the sorted file list. URI spellings are
    * normalized (file:/x vs file:///x) before the lookup. */
  private def fileRankColumn(files: Seq[String]): org.apache.spark.sql.Column = {
    def normalize(u: String): String = u.replaceFirst("^[a-zA-Z0-9+.-]+:/+", "/")
    val rankMap = typedLit(files.zipWithIndex.map { case (f, i) => normalize(f) -> i }.toMap)
    coalesce(
      element_at(rankMap, regexp_replace(input_file_name(), "^[a-zA-Z0-9+.-]+:/+", "/")),
      lit(0))
  }

  /** K1/K2 — write a node or edge DataFrame as gzipped KGX jsonl, as it
    * is: a caller whose ids may repeat drops the duplicates first. Output
    * is a directory of part files (the scalable layout); use
    * writeSingleFile for byte-compatible single-file bundles. */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("ignoreNullFields", "true")
      .option("compression", "gzip")
      .json(path)

  /** Single-file jsonl.gz for KGX bundle compatibility (coalesce(1) —
    * only for final export, never intermediates). */
  def writeSingleFile(df: DataFrame, file: String): Unit = {
    val tmp = file + ".spark-tmp"
    writeJsonl(df.coalesce(1), tmp)
    val dir = new java.io.File(tmp)
    val dest = new java.io.File(file)
    if (dest.exists()) dest.delete()
    dir.listFiles().find(f => f.getName.startsWith("part-")) match {
      case Some(part) => java.nio.file.Files.move(part.toPath, dest.toPath)
      case None => // empty DataFrame → empty bundle file
        java.nio.file.Files.createFile(dest.toPath)
    }
    dir.listFiles().foreach(_.delete()); dir.delete()
  }
}
