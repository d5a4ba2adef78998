package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sim.{Quantize, SemDedup}

/** Round-9 corpus operators: semantic dedup (SemDeDup), TF-IDF keyword
  * weighting, scalar-quantized ANN, and Bloom-prefiltered benchmark
  * decontamination. */
object CorpusQueries {
  private type Q = (SparkSession, String) => DataFrame

  /** q61 — SemDeDup (cluster-pruned embedding dedup) judged against the
    * exact all-pairs truth, pinned-measurement oracle (q37/q40 shape).
    * τ=0.35 keeps the duplicate graph sparse-but-real on the synthetic
    * embeddings (hundreds of pairs, not an all-connected blob). */
  private val q61: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val sem = SemDedup.semDedup(emb, tau = 0.35, nlist = 8)
    val exact = SemDedup.exactDedup(emb, tau = 0.35)
    SemDedup.agreementReport(sem, exact, recallMin = 0.5)
      .orderBy(col("metric"))
  }

  /** The three test corpora share vec_id ranges but differ in content —
    * measured values keyed by the same content probe as q37/q40
    * (floor(1e6·|embedding[1]|) of vec 0: 154694 → sf0.001, 54249 →
    * sf0.01, 19056 → sf0.1). Values measured on the seeded deterministic
    * pipeline; any drift in clustering or components flips the hash. */
  private val q61Sql =
    """WITH probe AS (SELECT floor(1e6*abs(embedding[1])) AS p FROM embeddings WHERE vec_id = 0)
       SELECT 'exact_dup_count' AS metric, true AS passed,
              (CASE (SELECT p FROM probe) WHEN 154694 THEN 252.0 WHEN 54249 THEN 263.0 WHEN 19056 THEN 1963.0 END)::DOUBLE AS value
       UNION ALL
       SELECT 'semdedup_dup_count', true,
              (CASE (SELECT p FROM probe) WHEN 154694 THEN 194.0 WHEN 54249 THEN 206.0 WHEN 19056 THEN 1886.0 END)::DOUBLE
       UNION ALL
       SELECT 'semdedup_dup_recall', true,
              (CASE (SELECT p FROM probe) WHEN 154694 THEN 0.7698 WHEN 54249 THEN 0.7833 WHEN 19056 THEN 0.9608 END)::DOUBLE
       ORDER BY metric"""

  /** q62 — per-document top-3 TF-IDF terms, full SQL oracle (wordcount
    * shape: explode → two map-combined groupBys → vocab-sized join). */
  private val q62: Q = (s, dir) =>
    graft.text.Tfidf.topTerms(Tables.documents(s, dir), "doc_id", "text", k = 3)
      .orderBy(col("doc_id"), col("rank"))

  private val q62Sql =
    """WITH w AS (
         SELECT doc_id, unnest(list_filter(
           string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
           x -> len(x) > 0)) AS word
         FROM documents),
       tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf FROM w GROUP BY 1, 2),
       df AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       n AS (SELECT count(*) AS n FROM documents),
       scored AS (
         SELECT t.doc_id, t.word, t.tf, d.df,
                floor(t.tf * ln(CAST(n.n AS DOUBLE) / d.df) * 1000000 + 0.5) / 1000000 AS score
         FROM tf t JOIN df d USING (word), n),
       ranked AS (
         SELECT *, CAST(row_number() OVER (
           PARTITION BY doc_id ORDER BY score DESC, word ASC) AS INTEGER) AS rank
         FROM scored)
       SELECT doc_id, word, tf, df, rank, score FROM ranked WHERE rank <= 3
       ORDER BY doc_id, rank"""

  /** q95 — BPE tokenizer training: the first 8 learned merges over the
    * corpus vocabulary (pair counts exact-integer, ties lexicographic).
    * The oracle pins the MEASURED merge table per test corpus, q61-style
    * (the iterative argmax loop is not SQL-expressible without unrolling
    * a vocabulary rewrite per step) — any drift in tokenization, pair
    * counting, or tie-breaking flips the hash. */
  private val q95: Q = (s, dir) =>
    graft.text.Bpe.learnMerges(Tables.documents(s, dir), "text", nMerges = 8)
      .orderBy(col("step"))

  /** Corpora keyed by sum(n_chars): 153156 → sf0.001, 149174 → sf0.01,
    * 1485576 → sf0.1. Values harvested via tools.DumpQuery from the
    * deterministic trainer. */
  private val q95Sql =
    """WITH probe AS (
         SELECT CASE CAST((SELECT sum(n_chars) FROM documents) AS BIGINT)
                WHEN 153156 THEN 1 WHEN 149174 THEN 2 WHEN 1485576 THEN 3 END AS sf),
       m(sf, step, l, r, n) AS (VALUES
         (1, 1, 'e', 'r',  4650), (1, 2, 'o', 'r',  2880),
         (1, 3, 'i', 'n',  2858), (1, 4, 'o', 'w',  2763),
         (1, 5, 's', 't',  2721), (1, 6, 'l', 'u',  1928),
         (1, 7, 'a', 'r',  1873), (1, 8, 'p', 'ar', 1873),
         (2, 1, 'e', 'r',  4568), (2, 2, 'i', 'n',  2760),
         (2, 3, 'o', 'w',  2747), (2, 4, 'o', 'r',  2696),
         (2, 5, 's', 't',  2676), (2, 6, 'm', 'er', 1852),
         (2, 7, 'a', 't',  1845), (2, 8, 'l', 'u',  1831),
         (3, 1, 'e', 'r', 45089), (3, 2, 'i', 'n', 27190),
         (3, 3, 'o', 'r', 27095), (3, 4, 's', 't', 27060),
         (3, 5, 'o', 'w', 27044), (3, 6, 't', 'a', 18248),
         (3, 7, 'l', 'u', 18239), (3, 8, 'm', 'er', 18174))
       SELECT CAST(step AS INTEGER) AS step, l AS "left", r AS "right",
              CAST(n AS BIGINT) AS pair_count
       FROM m, probe WHERE m.sf = probe.sf ORDER BY step"""

  /** q63 — scalar-quantized (SQ8) ANN: per-dimension affine codes,
    * similarity as code-space cosine over zero-centered codes (exact
    * integer sums + one IEEE divide/sqrt). Every step is deterministic
    * arithmetic, so DuckDB reproduces codes AND scores bit-identically —
    * an EXACT oracle for a compression operator. */
  private val q63: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val cb = Quantize.train(emb)
    Quantize.quantizedTopK(emb.filter(col("vec_id") < 50), emb, cb, k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  private val q63Sql =
    """WITH s AS (
         SELECT i AS d, min(CAST(embedding[i] AS DOUBLE)) AS mn,
                max(CAST(embedding[i] AS DOUBLE)) AS mx
         FROM embeddings, unnest(range(1, len(embedding)+1)) AS t(i)
         GROUP BY i),
       zp AS (
         SELECT d, mn, mx,
           CASE WHEN mx = mn THEN 0
                ELSE greatest(0, least(255,
                  CAST(floor((0 - mn) / (mx - mn) * 255 + 0.5) AS INTEGER)))
           END AS c0
         FROM s),
       codes AS (
         SELECT vec_id, i AS d,
           (CASE WHEN z.mx = z.mn THEN 0
                 ELSE CAST(floor((CAST(embedding[i] AS DOUBLE) - z.mn) / (z.mx - z.mn) * 255 + 0.5) AS INTEGER)
            END) - z.c0 AS code
         FROM embeddings, unnest(range(1, len(embedding)+1)) AS t(i)
         JOIN zp z ON z.d = i),
       norms AS (SELECT vec_id, CAST(sum(code * code) AS BIGINT) AS nn
                 FROM codes GROUP BY 1),
       dots AS (
         SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                CAST(sum(q.code * c.code) AS BIGINT) AS qdot
         FROM codes q JOIN codes c USING (d)
         WHERE q.vec_id < 50 AND c.vec_id <> q.vec_id
         GROUP BY 1, 2),
       scored AS (
         SELECT d.query_id, d.neighbor_id, d.qdot,
                CASE WHEN na.nn = 0 OR nb.nn = 0 THEN 0.0
                     ELSE CAST(d.qdot AS DOUBLE) /
                          sqrt(CAST(na.nn AS DOUBLE) * CAST(nb.nn AS DOUBLE))
                END AS qcos
         FROM dots d
         JOIN norms na ON na.vec_id = d.query_id
         JOIN norms nb ON nb.vec_id = d.neighbor_id),
       ranked AS (
         SELECT query_id, neighbor_id, qdot, qcos,
                CAST(row_number() OVER (
                  PARTITION BY query_id ORDER BY qcos DESC, neighbor_id ASC) AS INTEGER) AS rank
         FROM scored)
       SELECT query_id, neighbor_id, rank, qdot,
              floor(qcos * 1000000 + 0.5) / 1000000 AS qcos
       FROM ranked WHERE rank <= 5
       ORDER BY query_id, rank"""

  /** q64 — Bloom-prefiltered decontamination through the REAL bloom path;
    * result-identical to exact decontamination by construction (the
    * sketch only prunes, the semi-join verifies), so it shares q50's
    * exact-truth oracle. */
  private val q64: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val bench = docs.filter(col("doc_id") % 20 === 0)
    val corpus = docs.filter(col("doc_id") % 20 =!= 0)
    graft.dedup.Dedup.decontaminateBloom(corpus, bench, "doc_id", "text",
        shingleN = 13, window = 1, fpp = 0.01)
      .select(col("id").as("doc_id"), col("n_matched"))
      .orderBy(col("doc_id"))
  }

  /** q65 — content-defined chunking: md5-of-last-3-tokens boundary rule
    * (expected chunk ≈ 16 tokens), chunk digests for chunk-level dedup.
    * Fully reproducible in DuckDB (md5 + windows) — full SQL oracle. */
  private val q65: Q = (s, dir) =>
    graft.text.Chunker.cdcChunks(Tables.documents(s, dir), "doc_id", "text")
      .orderBy(col("doc_id"), col("chunk_id"))

  private val q65Sql =
    """WITH t AS (
         SELECT doc_id, i - 1 AS pos, w[i] AS tok
         FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
               FROM documents WHERE length(trim(text)) > 0),
              unnest(range(1, len(w)+1)) AS u(i)
         WHERE length(w[i]) > 0),
       f AS (
         SELECT doc_id, pos, tok,
           CASE WHEN row_number() OVER (PARTITION BY doc_id ORDER BY pos) >= 3
                 AND substr(md5(concat_ws(' ',
                   lag(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos),
                   lag(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos),
                   tok)), 1, 1) = '0'
                THEN 1 ELSE 0 END AS boundary
         FROM t),
       g AS (
         SELECT doc_id, pos, tok,
           coalesce(lag(boundary, 1) OVER (PARTITION BY doc_id ORDER BY pos), 0) AS prev_b
         FROM f),
       a AS (
         SELECT doc_id, pos, tok,
           CAST(sum(prev_b) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS chunk_id
         FROM g)
       SELECT doc_id, chunk_id, CAST(count(*) AS BIGINT) AS n_tokens,
              CAST(min(pos) AS BIGINT) AS start_pos,
              md5(string_agg(tok, ' ' ORDER BY pos)) AS digest
       FROM a GROUP BY 1, 2 ORDER BY doc_id, chunk_id"""

  /** q66 — product-quantization ADC ANN (m=16 subspaces × k=16 codes =
    * 64 bits/vector, 32× compression on 64-d float32) judged against
    * exact dot top-k; pinned-measurement oracle (values from
    * tools.PqProbe — the synthetic embeddings are near-isotropic noise,
    * so absolute PQ recall is structurally low; the pin asserts the
    * deterministic measurement, the floor asserts it stays non-degenerate). */
  private val q66: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 50)
    val index = graft.sim.Pq.train(emb, m = 16, k = 16)
    val exact = graft.sim.Similarity.exactDotTopK(queries, emb, k = 5)
    val ann = graft.sim.Pq.adcTopK(queries, emb, index, k = 5)
    graft.sim.Similarity.recallReport(exact, ann, recall1Min = 0.15, overlapMin = 0.2)
      .orderBy(col("metric"))
  }

  private val q66Sql =
    """WITH probe AS (SELECT floor(1e6*abs(embedding[1])) AS p FROM embeddings WHERE vec_id = 0)
       SELECT 'recall_at_1' AS metric, true AS passed,
              (CASE (SELECT p FROM probe) WHEN 154694 THEN 0.26 WHEN 54249 THEN 0.34 WHEN 19056 THEN 0.18 END)::DOUBLE AS value
       UNION ALL
       SELECT 'topk_overlap', true,
              (CASE (SELECT p FROM probe) WHEN 154694 THEN 0.372 WHEN 54249 THEN 0.484 WHEN 19056 THEN 0.26 END)::DOUBLE
       ORDER BY metric"""

  /** q67 — exact substring-span dedup (Lee et al. ACL 2022 semantics at
    * token granularity, minLen=15): duplicated ≥15-token runs removed
    * everywhere except their canonical first occurrence. Full SQL oracle
    * (md5 window digests are engine-portable). */
  private val q67: Q = (s, dir) =>
    graft.dedup.SpanDedup.dedupSpans(Tables.documents(s, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  private val q67Sql =
    """WITH d AS (
         SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
                                    x -> length(x) > 0) AS w
         FROM documents WHERE length(trim(text)) > 0),
       t AS (SELECT doc_id, i - 1 AS pos, w[i] AS tok
             FROM d, unnest(range(1, len(w)+1)) AS u(i)),
       g AS (SELECT doc_id, i - 1 AS pos,
                    md5(array_to_string(list_slice(w, i, i + 14), ' ')) AS digest
             FROM d, unnest(range(1, len(w) - 15 + 2)) AS u(i)
             WHERE len(w) >= 15),
       o AS (SELECT doc_id, pos,
                    row_number() OVER (PARTITION BY digest ORDER BY doc_id, pos) AS rn,
                    count(*) OVER (PARTITION BY digest) AS n_occ
             FROM g),
       cov AS (SELECT DISTINCT doc_id, pos + j AS pos
               FROM o, unnest(range(0, 15)) AS r(j)
               WHERE n_occ > 1 AND rn > 1),
       kept AS (SELECT t.doc_id, t.pos, t.tok
                FROM t LEFT JOIN cov ON t.doc_id = cov.doc_id AND t.pos = cov.pos
                WHERE cov.pos IS NULL),
       ka AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                     md5(string_agg(tok, ' ' ORDER BY pos)) AS clean_digest
              FROM kept GROUP BY 1),
       tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens FROM t GROUP BY 1)
       SELECT tot.doc_id, tot.n_tokens,
              tot.n_tokens - coalesce(ka.n_kept, 0) AS n_dup_tokens,
              coalesce(ka.clean_digest, md5('')) AS clean_digest
       FROM tot LEFT JOIN ka USING (doc_id)
       ORDER BY doc_id"""

  /** q68 — hashed-feature linear quality classifier (fastText-style,
    * md5-derived weights, exact integer accumulation). Full SQL oracle. */
  private val q68: Q = (s, dir) =>
    graft.text.HashClassifier.score(Tables.documents(s, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  private val q68Sql = {
    val scoreExpr = graft.functions.StableRound.sql(
      "CAST(raw_weight AS DOUBLE) / (n_features * 2147483648.0)", 6)
    s"""WITH d AS (
         SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'),
                                    x -> length(x) > 0) AS w
         FROM documents WHERE length(trim(text)) > 0),
       t AS (SELECT doc_id, w[i] AS tok,
                    CASE WHEN i < len(w) THEN w[i+1] END AS nxt
             FROM d, unnest(range(1, len(w)+1)) AS u(i)),
       f AS (SELECT doc_id, tok AS feat FROM t
             UNION ALL
             SELECT doc_id, tok || '_' || nxt FROM t WHERE nxt IS NOT NULL),
       s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_features,
                    CAST(sum(CAST('0x' || substr(md5(feat), 1, 8) AS BIGINT)
                             - 2147483648) AS BIGINT) AS raw_weight
             FROM f GROUP BY 1)
       SELECT doc_id, n_features, raw_weight, score,
              CASE WHEN score > 0 THEN 'keep' ELSE 'drop' END AS label
       FROM (SELECT *, $scoreExpr AS score FROM s)
       ORDER BY doc_id"""
  }

  /** q69 — temperature-scaled mixture quotas (α = 1/2, target 200 docs):
    * √count source weights, integer-exact quotas and hash thresholds,
    * audited kept counts. Full SQL oracle. */
  private val q69: Q = (s, dir) =>
    graft.pipeline.Sampling.temperatureQuotas(
      Tables.documents(s, dir), "doc_id", "source", totalTarget = 200L)
      .select(col("source"), col("n_docs"), col("weight"), col("quota"),
        col("threshold_hex"), col("n_kept"))
      .orderBy(col("source"))

  private val q69Sql =
    """WITH s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
                  FROM documents GROUP BY 1),
       w AS (SELECT source, n_docs,
                    CAST(floor(sqrt(n_docs)) AS BIGINT) AS weight FROM s),
       tot AS (SELECT CAST(sum(weight) AS BIGINT) AS w_total FROM w),
       q AS (SELECT source, n_docs, weight,
                    CAST((200 * weight) // w_total AS BIGINT) AS quota
             FROM w, tot),
       th AS (SELECT *, CASE WHEN quota >= n_docs THEN 'g'
                             ELSE printf('%04x', (65536 * quota) // n_docs)
                        END AS threshold_hex FROM q),
       k AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_kept
             FROM documents d JOIN th ON d.source = th.source
             WHERE substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < th.threshold_hex
             GROUP BY 1)
       SELECT th.source, th.n_docs, th.weight, th.quota, th.threshold_hex,
              coalesce(k.n_kept, 0) AS n_kept
       FROM th LEFT JOIN k USING (source) ORDER BY source"""

  /** q70 — deterministic global shuffle + sharding (8 shards): the final
    * write stage of a curation pipeline. Full SQL oracle. */
  private val q70: Q = (s, dir) =>
    graft.pipeline.Sampling.shuffleShard(
      Tables.documents(s, dir), col("doc_id"), nShards = 8)
      .select(col("shard"), col("seq"), col("doc_id"))
      .orderBy(col("shard"), col("seq"))

  private val q70Sql =
    """WITH s AS (SELECT doc_id,
             CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 8 AS INT) AS shard,
             md5(CAST(doc_id AS VARCHAR)) AS h
           FROM documents)
       SELECT shard,
              CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS BIGINT) AS seq,
              doc_id
       FROM s ORDER BY shard, seq"""

  /** q113 — PMI collocation mining ([[graft.text.Collocations]]): adjacent
    * word pairs scored by lift = p(ab)/(p(a)p(b)) — exact-integer ratio,
    * so the oracle hash-pins the measurement (log-PMI is monotone in it).
    * Two map-combined groupBys + two vocabulary-sized joins. */
  private val q113: Q = (s, dir) =>
    graft.text.Collocations.mine(Tables.documents(s, dir), "text", minCount = 5)

  private val q113Sql =
    graft.text.Collocations.oracleSql("documents", "text", minCount = 5)

  /** q116 — χ² distribution-drift audit ([[graft.operators.Drift]])
    * between two deterministic halves of the corpus, per (lang, source)
    * cell: the train/validation skew gate of a data pipeline. Exact
    * integer counts → engine-stable χ² contributions. */
  private val q116: Q = (s, dir) =>
    graft.operators.Drift.chi2(
      Tables.documents(s, dir)
        .withColumn("category", concat_ws("_", col("lang"), col("source")))
        .withColumn("slice", when(col("doc_id") % 10 < 5, "a").otherwise("b")),
      "category", "slice")

  private val q116Sql = graft.operators.Drift.oracleSql(
    "documents", "lang || '_' || source",
    "CASE WHEN doc_id % 10 < 5 THEN 'a' ELSE 'b' END")

  val defs: Map[String, Q] = Map(
    "q113_collocations"  -> q113,
    "q116_chi2_drift"    -> q116,
    "q61_semdedup"       -> q61,
    "q62_tfidf"          -> q62,
    "q95_bpe_merges"     -> q95,
    "q63_quantized_ann"  -> q63,
    "q64_bloom_decontam" -> q64,
    "q65_cdc_chunk"      -> q65,
    "q66_pq_ann"         -> q66,
    "q67_substring_dedup" -> q67,
    "q68_quality_classifier" -> q68,
    "q69_temperature_mix" -> q69,
    "q70_shuffle_shard"  -> q70,
  )

  val oracles: Map[String, String] = Map(
    "q113_collocations"  -> q113Sql,
    "q116_chi2_drift"    -> q116Sql,
    "q61_semdedup"       -> q61Sql,
    "q62_tfidf"          -> q62Sql,
    "q95_bpe_merges"     -> q95Sql,
    "q63_quantized_ann"  -> q63Sql,
    "q64_bloom_decontam" -> TextQueries.decontamSql, // same exact truth as q50
    "q65_cdc_chunk"      -> q65Sql,
    "q66_pq_ann"         -> q66Sql,
    "q67_substring_dedup" -> q67Sql,
    "q68_quality_classifier" -> q68Sql,
    "q69_temperature_mix" -> q69Sql,
    "q70_shuffle_shard"  -> q70Sql,
  )
}
