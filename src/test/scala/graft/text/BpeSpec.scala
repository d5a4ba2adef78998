package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("applyMerge is greedy left-to-right and non-overlapping") {
    val df = Seq(Seq("a", "a", "a"), Seq("a", "b", "a", "a"), Seq("b"))
      .toDF("toks")
    val out = df.select(Bpe.applyMerge(col("toks"), "a", "a").as("m"))
      .as[Seq[String]].collect()
    assert(out(0) == Seq("aa", "a"))
    assert(out(1) == Seq("a", "b", "aa"))
    assert(out(2) == Seq("b"))
  }

  test("learnMerges finds the most frequent pair first, ties by symbol") {
    // 'ab' appears in both words (counts 3+2=5); 'bc' only in the second (2)
    val docs = Seq("ab ab ab abc abc").toDF("text")
    val merges = Bpe.learnMerges(docs, "text", nMerges = 2)
      .orderBy($"step").as[(Int, String, String, Long)].collect()
    assert(merges(0) == ((1, "a", "b", 5L)))
    // after merging 'ab', the top pair is ('ab','c') with count 2
    assert(merges(1) == ((2, "ab", "c", 2L)))
  }

  test("learnMerges stops when no pairs remain") {
    val docs = Seq("a b c a b").toDF("text")
    val merges = Bpe.learnMerges(docs, "text", nMerges = 10)
    // single-char words only → no adjacent pairs at all
    assert(merges.count() == 0)
  }

  test("learnMerges frees every vocabulary generation") {
    // each merge step used to eager-checkpoint a new vocabulary and never
    // release the superseded one; the result is a driver-built merge
    // table, so no vocabulary may outlive the call (suites share this
    // SparkContext — delta bound, not exact count)
    def persisted() = spark.sparkContext.getPersistentRDDs.size
    val docs = (1 to 20).map(i => s"banana bandana cabana word$i").toDF("text")
    val before = persisted()
    assert(Bpe.learnMerges(docs, "text", nMerges = 5).count() == 5)
    assert(Bpe.learnMerges(Seq("a b c").toDF("text"), "text", nMerges = 5).count() == 0)
    assert(persisted() - before <= 1,
      s"superseded vocabularies not freed: $before -> ${persisted()}")
  }

  test("learnMerges is independent of partitioning") {
    val docs = (1 to 50).map(i => s"alpha beta gamma delta word$i")
      .toDF("text")
    val one = Bpe.learnMerges(docs.coalesce(1), "text", 5)
      .as[(Int, String, String, Long)].collect().toSeq
    val many = Bpe.learnMerges(docs.repartition(8), "text", 5)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(one == many && one.size == 5)
  }

  test("tokenize applies learned merges in training order") {
    val docs = Seq("banana banana band").toDF("text")
    val merges = Bpe.learnMerges(docs, "text", 3)
      .orderBy($"step").as[(Int, String, String, Long)].collect()
      .map(m => (m._2, m._3)).toSeq
    val toks = Seq("banana").toDF("w")
      .select(Bpe.tokenize(col("w"), merges).as("t"))
      .as[Seq[String]].head()
    // whatever the learned merges are, re-tokenizing a training word
    // yields fused symbols that concatenate back to the word
    assert(toks.mkString == "banana" && toks.size < 6)
  }
}
