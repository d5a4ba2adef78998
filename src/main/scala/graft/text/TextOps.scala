package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines.
  * All pure Column expressions (whole-stage codegen, no UDFs): language-ID,
  * quality scoring, token counting, document fingerprinting.
  */
object TextOps {

  /** Whitespace tokens of a text column. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Whitespace token count (0 for empty/blank). */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, 0).otherwise(size(tokens(text)))

  /** BPE-ish subword count: alpha runs, digits, and punctuation marks each
    * count as one token — a cheap proxy for byte-pair-encoded length. */
  val bpeishPattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpeishPattern), lit(0)))

  /** Punctuation character count / ratio. */
  def punctCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[^A-Za-z0-9\\s]"), lit(0)))

  /** Stopword hits for a profile (word-boundary regex, case-insensitive). */
  def stopwordHits(text: Column, stopwords: Seq[String]): Column =
    size(regexp_extract_all(lower(text),
      lit("\\b(" + stopwords.mkString("|") + ")\\b"), lit(0)))

  /** Composite quality score in [0,1]:
    * 0.4·length-saturation + 0.3·(1-punct ratio) + 0.3·stopword presence —
    * the shape of reference-style heuristic quality filters. */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text).cast("double")
    val lenScore = least(nTok / 50.0, lit(1.0))
    val punctRatio = least(punctCount(text).cast("double") / greatest(length(text).cast("double"), lit(1.0)), lit(1.0))
    val stopRatio = least(stopwordHits(text, englishStopwords).cast("double") / greatest(nTok, lit(1.0)), lit(1.0))
    // tie-stable rounding, NOT round() — see graft.functions.StableRound
    // (an exact decimal tie like 0.72625 rounds differently in Spark's
    // BigDecimal path vs DuckDB's raw-binary-double path)
    graft.functions.StableRound.tieStableRound(
      lit(0.4) * lenScore + lit(0.3) * (lit(1.0) - punctRatio) + lit(0.3) * stopRatio, 4)
  }

  val englishStopwords = Seq("the", "a", "an", "of", "and", "to", "in", "is", "it", "that")
  val spanishStopwords = Seq("el", "la", "de", "que", "y", "en", "un", "una", "es", "los")
  val germanStopwords  = Seq("der", "die", "das", "und", "ist", "von", "ein", "eine", "zu", "den")
  val frenchStopwords  = Seq("le", "la", "de", "et", "un", "une", "est", "les", "des", "en")

  /** Language-ID by stopword-profile argmax (n-gram heuristic family).
    * Deterministic tie-break: higher score wins, then profile order
    * en > es > de > fr, 'und' (undetermined) when no profile hits. */
  def langId(text: Column): Column = {
    val en = stopwordHits(text, englishStopwords)
    val es = stopwordHits(text, spanishStopwords)
    val de = stopwordHits(text, germanStopwords)
    val fr = stopwordHits(text, frenchStopwords)
    val best = greatest(en, es, de, fr)
    when(best === 0, "und")
      .when(en === best, "en")
      .when(es === best, "es")
      .when(de === best, "de")
      .otherwise("fr")
  }

  /** Normalized content fingerprint: lowercase, strip non-alphanumerics,
    * md5 — stable across whitespace/punctuation noise (exact-dup key). */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "[^a-z0-9]+", " ")))

  /** Word n-gram shingles: contiguous n-token windows joined by space.
    * Pure expression: slice over a sequence of start offsets. */
  def shingles(text: Column, n: Int): Column = {
    // let-binding via a 1-element transform: a higher-order-function lambda
    // re-evaluates every non-lambda-variable subtree PER ELEMENT, so
    // referencing tokens(text) inside the per-index lambda would re-run the
    // regexp split ~len(tokens) times per row (measured 6× on q33)
    element_at(
      transform(array(tokens(text)), toks =>
        when(size(toks) < n, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(0), size(toks) - n),
            i => array_join(slice(toks, i + 1, lit(n)), " ")))), 1)
  }

  /** Duplicate word-n-gram fraction (a Gopher-style repetition signal):
    * 1 - distinct/total n-grams; 0.0 when the doc has < n+1 tokens (a
    * single n-gram can't repeat). Pure expression — scan-local. */
  def dupNgramFrac(text: Column, n: Int): Column = {
    val sh = shingles(text, n)
    when(size(sh) <= 1, lit(0.0))
      .otherwise(lit(1.0) - size(array_distinct(sh)).cast("double") / size(sh))
  }
}
