package graft.text

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Byte-pair-encoding tokenizer TRAINING (Sennrich et al., ACL 2016 —
  * the construction GPT/Llama-family tokenizers build on): iteratively
  * find the most frequent adjacent symbol pair in the corpus vocabulary
  * and fuse it into a new symbol.
  *
  * Scale shape per merge step: the corpus collapses ONCE into a
  * (word, count) vocabulary — all further work is vocabulary-sized, the
  * classic BPE trick — then each step is explode(adjacent pairs) → one
  * map-combined groupBy(pair) weighted by word count → a distributed
  * TakeOrdered(1) for the argmax, and one narrow mapPartitions-free
  * column rewrite applying the merge (a fold expression over each
  * word's symbol array; words are short, so the per-row cost is tiny).
  * Each merge is one [[graft.Lineage.iterate]] generation, filled by the
  * next step's argmax, so N merges never stack N plans.
  *
  * Determinism: pair counts are exact integer sums; the argmax breaks
  * ties by (left, right) lexicographically; the greedy left-to-right
  * merge application is a sequential fold — same corpus, same merges,
  * any partitioning.
  */
object Bpe {

  /** Greedy left-to-right single-pair merge over a symbol array:
    * [a,a,a] with merge (a,a) → [aa,a] — non-overlapping, like the
    * reference BPE implementations. */
  def applyMerge(tokens: Column, left: String, right: String): Column =
    aggregate(tokens, array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) > 0 &&
            element_at(acc, -1) === lit(left) && x === lit(right),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(left + right))))
          .otherwise(concat(acc, array(x))))

  /** Adjacent (left, right) symbol pairs of a symbol array. */
  def adjacentPairs(tokens: Column): Column =
    zip_with(
      slice(tokens, lit(1), greatest(size(tokens) - 1, lit(0))),
      slice(tokens, lit(2), greatest(size(tokens) - 1, lit(0))),
      (l, r) => struct(l.as("l"), r.as("r")))

  /** Learn `nMerges` merge operations from the corpus. Returns
    * (step, left, right, pair_count) — the merge table a tokenizer
    * ships. */
  def learnMerges(docs: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    // corpus → vocabulary: everything after this line is vocab-sized
    val vocab = docs
      .select(explode(Tfidf.words(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .select(split(col("word"), "(?!^)(?=.)").as("toks"), col("cnt"))
      .localCheckpoint()
    def topPair(vocab: DataFrame): Option[(String, String, Long)] = vocab
      .select(explode(adjacentPairs(col("toks"))).as("p"), col("cnt"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("cnt")).as("n"))
      .orderBy(col("n").desc, col("l").asc, col("r").asc)
      .limit(1).collect().headOption
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    // a vocab with no pair left maps to itself, and `until` ends the loop
    graft.Lineage.release(graft.Lineage.iterate("bpe", vocab, nMerges, topPair(vocab))(
      (vocab, top, step) => top.fold(vocab) { case (l, r, n) =>
        learned += ((step, l, r, n))
        vocab.select(applyMerge(col("toks"), l, r).as("toks"), col("cnt"))
      },
      observe = topPair, until = (_, top) => top.isEmpty))
    spark.createDataFrame(
      spark.sparkContext.parallelize(learned.toSeq.map {
        case (s, l, r, n) => Row(s, l, r, n)
      }, 1),
      StructType(Seq(
        StructField("step", IntegerType, nullable = false),
        StructField("left", StringType, nullable = false),
        StructField("right", StringType, nullable = false),
        StructField("pair_count", LongType, nullable = false))))
  }

  /** Tokenize words with a learned merge table (merges applied in
    * training order — the standard BPE inference rule). */
  def tokenize(words: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(split(words, "(?!^)(?=.)")) {
      case (toks, (l, r)) => applyMerge(toks, l, r)
    }
}
