package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.TextOps

/** Deduplication operators for training-data pipelines, all shuffle-shaped
  * for scale:
  *
  *  - exact:        hash-groupBy on a normalized fingerprint (1 shuffle)
  *  - MinHash+LSH:  shingle → k minhashes → b bands → bucket self-join →
  *                  candidate pairs → exact-Jaccard verify. The self-join is
  *                  on (band, signature) so only likely-similar docs meet —
  *                  never an O(N²) cross product.
  *  - SimHash:      64-bit sign-aggregated token hashes; near-dups share
  *                  bucket prefixes (hamming ≤ r via 4-way block split)
  *  - n-gram Jaccard: exact verify used standalone on shingle inverted index
  *  - embedding near-dup: cosine ≥ τ pairs via LSH bucketing (graft.sim)
  *
  * Everything is expression-only (codegen); hot-shingle filtering caps the
  * inverted-index skew (classic LSH trick — a stopword shingle would
  * otherwise pair every document with every other).
  */
object Dedup {

  /** Exact dedup: canonical row per normalized-content fingerprint. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.withColumn("_fp", TextOps.fingerprint(col(textCol)))
      .groupBy(col("_fp").as("fingerprint"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Incremental (delta) exact dedup — the daily-ingest shape: a NEW batch
    * of documents checked against the fingerprint INDEX of the corpus
    * already ingested, without re-deduplicating the corpus itself. Each new
    * doc gets `dup_of` = the smallest index doc id sharing its normalized
    * fingerprint (null ⇒ genuinely new content).
    *
    * Shape at scale: the index side is reduced to its per-fingerprint
    * minimum BEFORE the join — one map-combined groupBy over the index,
    * then a fingerprint equi-join against the (much smaller) batch. AQE
    * broadcasts whichever side is small; at 100 TB the index aggregate is
    * a persisted table updated per ingest, and this join is the only work
    * per batch. Nothing rescans or reshuffles the historical corpus text.
    */
  def incrementalExact(index: DataFrame, batch: DataFrame,
                       idCol: String, textCol: String): DataFrame = {
    val indexFps = index
      .select(TextOps.fingerprint(col(textCol)).as("_fp"), col(idCol).as("_idx_id"))
      .groupBy(col("_fp")).agg(min(col("_idx_id")).as("dup_of"))
    batch
      .withColumn("_fp", TextOps.fingerprint(col(textCol)))
      .join(indexFps, Seq("_fp"), "left")
      .select(col(idCol), col("dup_of"), col("dup_of").isNotNull.as("is_dup"))
  }

  /** Incremental NEAR-dup — [[incrementalExact]]'s fuzzy sibling and the
    * scale-critical shape of LSH dedup at 100 TB: a new batch probed
    * against the banded-minhash INDEX of the already-ingested corpus,
    * never a corpus self-join. The corpus side reduces to its
    * (bucket, id) index — the band index is FOLDED into the bucket hash
    * (one-long join key; see minhashLshImpl), so a persisted index
    * table maintained per ingest has two columns, and any index
    * persisted under the pre-fold (band, bucket, id) layout is
    * append-incompatible and must be rebuilt. Per-batch work is one
    * equi-join of the batch's buckets against that index plus the exact
    * verify on candidates; historical text is never rescanned, and the
    * index grows by the batch's buckets afterwards (append-only).
    *
    * Returns one row per batch document that near-duplicates the corpus:
    * (id, dup_of, jaccard) with dup_of = the SMALLEST corpus id whose
    * exact shingle-Jaccard ≥ tau (deterministic representative), jaccard
    * = that pair's verified value. Recall at tau rides the same band
    * math as the self-join stack (1−(1−j^r)^b; structural at 32×2 for
    * τ = 0.8). */
  def incrementalNearDup(index: DataFrame, batch: DataFrame,
                         idCol: String, textCol: String,
                         shingleN: Int, bands: Int, rowsPerBand: Int,
                         tau: Double): DataFrame = {
    val k = bands * rowsPerBand
    def banded(df: DataFrame, side: String): DataFrame =
      graft.scale.Skew.ensureParallelism(df)
        .filter(size(TextOps.tokens(col(textCol))) >= shingleN)
        .select(col(idCol).as(side),
          minhashSignature(col(textCol), shingleN, k).as("sig"))
        .select(col(side),
          // band index folded into the hash: one-long join key (see
          // minhashLshImpl — same shape, same rationale)
          explode(transform(sequence(lit(0), lit(bands - 1)),
            b => xxhash64(b, concat_ws("_", slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))))
            .as("bucket"))
    // A shared id (re-ingest: the doc is both in the batch and, stale, in
    // the index) must not produce the self-pair (X, X): the verifier below
    // sees ONE text per id (batch wins), so (X, X) would verify the batch
    // text against itself — jaccard 1.0 unconditionally — masking genuine
    // smaller-id corpus matches and firing even when batch-vs-corpus
    // similarity is below tau.
    val cands = banded(batch, "id_a").join(banded(index, "id_b"), Seq("bucket"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    // the verifier needs both sides' shingle sets in one table. The API
    // never requires batch/index id disjointness, and a shared id would
    // otherwise join each candidate pair against BOTH rows and emit
    // duplicated/incorrect jaccard rows — so one row per id is enforced
    // here, the BATCH row winning (the re-ingest reading: the batch text
    // is the current version of the document). The aggregate shuffles
    // only (id, text), and at scale the id spaces are disjoint by
    // construction so the min-struct collapses nothing.
    val universe = batch.select(col(idCol), col(textCol)).withColumn("_pri", lit(0))
      .unionByName(index.select(col(idCol), col(textCol)).withColumn("_pri", lit(1)))
      .groupBy(col(idCol))
      .agg(min(struct(col("_pri"), col(textCol).as("_t"))).as("_m"))
      .select(col(idCol), col("_m._t").as(textCol))
    verifyJaccardPairs(universe, idCol, textCol, cands, shingleN)
      .filter(col("jaccard") >= tau)
      .groupBy(col("id_a").as(idCol))
      .agg(min(struct(col("id_b"), col("jaccard"))).as("m"))
      .select(col(idCol), col("m.id_b").as("dup_of"), col("m.jaccard").as("jaccard"))
  }

  /** k minhash values as an array column — a single codegen pass over the
    * row's shingle hashes (graft.functions.MinHashSignature). The earlier
    * aggregate/zip_with formulation went through interpreted lambda
    * plumbing; duplicates need no explicit array_distinct since min() is
    * idempotent over repeats. */
  def minhashSignature(text: Column, shingleN: Int, k: Int): Column =
    graft.functions.TextExpressions.minhashSignature(TextOps.tokens(text), shingleN, k)

  /** Candidate near-dup pairs via banded LSH over minhash signatures.
    * bands·rowsPerBand must equal the signature length. Returns
    * (id_a, id_b, estimated_jaccard) with id_a < id_b. */
  def minhashLshCandidates(df: DataFrame, idCol: String, textCol: String,
                           shingleN: Int = 5, bands: Int = 8, rowsPerBand: Int = 4): DataFrame =
    minhashLshImpl(df, idCol, textCol, shingleN, bands, rowsPerBand, estimate = true)

  /** Candidate pairs only — (id_a, id_b), no signature re-attach or jaccard
    * estimate. For callers that feed an exact verifier (verifyJaccardPairs)
    * the estimate is dead work: two joins and a k-wide zip per pair. */
  def minhashLshCandidatePairs(df: DataFrame, idCol: String, textCol: String,
                               shingleN: Int = 5, bands: Int = 8, rowsPerBand: Int = 4): DataFrame =
    minhashLshImpl(df, idCol, textCol, shingleN, bands, rowsPerBand, estimate = false)

  private def minhashLshImpl(df: DataFrame, idCol: String, textCol: String,
                             shingleN: Int, bands: Int, rowsPerBand: Int,
                             estimate: Boolean): DataFrame = graft.Lineage.scoped { scope =>
    val k = bands * rowsPerBand
    // docs too short to shingle have no minhash identity — drop them here,
    // or every empty doc would share the all-sentinel signature and
    // band-collide with every other empty doc
    val sigs = scope.cached(graft.scale.Skew.ensureParallelism(df)
      .filter(size(TextOps.tokens(col(textCol))) >= shingleN)
      .select(col(idCol).as("id"),
        minhashSignature(col(textCol), shingleN, k).as("sig")))
    // band hash = xxhash64 of (band index, band slice), exploded to
    // (bucket, id). Folding the band INTO the hash makes the join key ONE
    // long instead of (band int, bucket long) — same collisions for equal
    // slices within a band (what recall rides on), ~25% narrower shuffle
    // rows on the self-join, which is the spilling stage of the 8M smoke
    // (round-14 profile). Only (bucket, id) enters the self-join — the
    // wide signature is re-attached AFTER pair dedup so the shuffle
    // carries 2 longs per row, not 2×k-element arrays (the candidate set
    // can approach N² on a self-similar corpus; keep those rows narrow).
    val banded = sigs.select(col("id"),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(b, concat_ws("_", slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))))
        .as("bucket"))
    val a = banded.select(col("bucket"), col("id").as("id_a"))
    val b = banded.select(col("bucket"), col("id").as("id_b"))
    // Deliberately a sort-merge join: SHUFFLE_HASH was tried for the 8M
    // smoke's spilling stage and the build side CANNOT acquire memory at
    // the 8 GiB/32-thread bench envelope ("Can't acquire 64 MiB to build
    // hash relation") — SMJ's spillable sort is the graceful degradation,
    // and on a real cluster per-partition input shrinks with partition
    // count so the sort stays in memory.
    val pairs = a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val withEstimate =
      if (!estimate) pairs
      else pairs
        .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
        .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
        .withColumn("estimated_jaccard",
          aggregate(zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1).otherwise(0)),
            lit(0), (acc, v) => acc + v).cast("double") / k)
        .select(col("id_a"), col("id_b"), col("estimated_jaccard"))
    withEstimate.localCheckpoint()
  }

  /** Exact-verify a candidate pair set: recompute the n-gram Jaccard of
    * each (id_a, id_b) from the documents' distinct shingle hash sets.
    * This is the verify half of the LSH stack — candidates are cheap and
    * hash-seed-dependent, the verified output is exact and
    * oracle-comparable. Joins stay narrow: only candidate ids shuffle,
    * shingle arrays attach per side. */
  def verifyJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                         pairs: DataFrame, shingleN: Int): DataFrame = {
    val docs = graft.scale.Skew.ensureParallelism(df)
      .select(col(idCol).as("id"),
        graft.functions.TextExpressions.distinctShingleHashes(
          TextOps.tokens(col(textCol)), shingleN).as("shingles"))
      .filter(size(col("shingles")) > 0)
    pairs.select(col("id_a"), col("id_b"))
      .join(docs.select(col("id").as("id_a"), col("shingles").as("sh_a")), Seq("id_a"))
      .join(docs.select(col("id").as("id_b"), col("shingles").as("sh_b")), Seq("id_b"))
      .withColumn("n_common", size(array_intersect(col("sh_a"), col("sh_b"))))
      // tie-stable rounding (StableRound scaladoc): the ratio of exact ints
      // is bit-identical in any engine, so the rounded value is too
      .withColumn("jaccard", graft.functions.StableRound.tieStableRound(
        col("n_common").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("n_common")), 4))
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Exact n-gram Jaccard pairs via a shingle inverted index:
    * explode distinct shingles, self-join on the shingle, count
    * intersections, Jaccard = |∩| / (|A|+|B|-|∩|). Hot shingles with
    * document frequency > dfCap are dropped before the join (skew guard). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 5, minJaccard: Double = 0.8,
                        dfCap: Int = 100): DataFrame = graft.Lineage.scoped { scope =>
    // distinct 8-byte shingle hashes straight from the codegen expression —
    // no per-window string materialization
    val docs = graft.scale.Skew.ensureParallelism(df)
      .select(col(idCol).as("id"),
        graft.functions.TextExpressions.distinctShingleHashes(
          TextOps.tokens(col(textCol)), shingleN).as("shingles"))
      .withColumn("n_shingles", size(col("shingles")))
      .filter(col("n_shingles") > 0)
    // cache the inverted index: the self-join's two branches and the
    // hot-shingle pass would otherwise recompute the explode lineage 4×
    val inverted = scope.cached(docs
      .select(col("id"), col("n_shingles"), explode(col("shingles")).as("shingle")))
    val hot = inverted.groupBy("shingle").count().filter(col("count") > dfCap).select("shingle")
    val cold = inverted.join(hot, Seq("shingle"), "left_anti")
    val a = cold.select(col("shingle"), col("id").as("id_a"), col("n_shingles").as("n_a"))
    val b = cold.select(col("shingle"), col("id").as("id_b"), col("n_shingles").as("n_b"))
    a.join(b, Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("n_common"))
      .withColumn("jaccard", graft.functions.StableRound.tieStableRound(
        col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")), 4))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .localCheckpoint()
  }

  /** Winnowing document fingerprints (Schleimer et al., SIGMOD 2003):
    * rightmost-min of each w-window over the rolling shingle-hash stream —
    * the classic rolling-hash fingerprint. One codegen pass per row
    * (graft.functions.WinnowingFingerprints). */
  def winnowingFingerprints(text: Column, shingleN: Int = 5, window: Int = 4): Column =
    graft.functions.TextExpressions.winnowingFingerprints(TextOps.tokens(text), shingleN, window)

  /** Candidate near-dup pairs via a winnowing-fingerprint inverted index:
    * docs sharing any selected fingerprint are candidates. Winnowing
    * guarantees any shared run of ≥ shingleN+window-1 tokens yields a
    * shared fingerprint, and selects only ~2/(window+1) of the shingles —
    * the index (and its self-join) is that much smaller than q33's full
    * shingle index. Hot fingerprints above dfCap are dropped before the
    * join (same skew guard as ngramJaccardPairs). */
  def winnowingCandidates(df: DataFrame, idCol: String, textCol: String,
                          shingleN: Int = 5, window: Int = 4,
                          dfCap: Int = 100): DataFrame = graft.Lineage.scoped { scope =>
    val docs = graft.scale.Skew.ensureParallelism(df)
      .select(col(idCol).as("id"),
        winnowingFingerprints(col(textCol), shingleN, window).as("fps"))
      .filter(size(col("fps")) > 0)
    val inverted = scope.cached(docs.select(col("id"), explode(col("fps")).as("fp")))
    val hot = inverted.groupBy("fp").count().filter(col("count") > dfCap).select("fp")
    val cold = inverted.join(hot, Seq("fp"), "left_anti")
    val a = cold.select(col("fp"), col("id").as("id_a"))
    val b = cold.select(col("fp"), col("id").as("id_b"))
    a.join(b, Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
      .localCheckpoint()
  }

  /** Benchmark decontamination (the GPT-3 appendix-C / Pile convention):
    * flag corpus documents sharing ≥1 n-token shingle with any benchmark
    * document, so evaluation data can be scrubbed from training corpora.
    *
    * Scale shape: the benchmark side is small by construction (an eval
    * set, not a corpus) — its distinct fingerprint set is the build side
    * of a broadcast semi-join. The corpus side streams once: winnowing
    * fingerprints per doc, exploded, semi-joined, grouped. No corpus
    * self-join anywhere, so this is linear in corpus size and the only
    * shuffle is the final per-doc count.
    *
    * `window=1` keeps EVERY rolling shingle hash (winnow of a 1-window is
    * the element itself) — full recall for a single shared n-gram, the
    * standard decontamination contract, and what the oracle checks.
    * `window>1` engages real winnowing sub-sampling on BOTH sides: the
    * corpus explode shrinks ~2/(w+1)× and the guarantee relaxes to shared
    * runs ≥ n+w-1 tokens (Schleimer et al. SIGMOD 2003) — the knob for a
    * 100 TB corpus where the exploded full-shingle stream dominates.
    *
    * Returns (id, n_matched): flagged corpus docs with their distinct
    * matched-fingerprint count — a measurement, not just a boolean. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String,
                    shingleN: Int = 13, window: Int = 1): DataFrame = {
    val benchFps = fingerprintStream(benchmark, idCol, textCol, shingleN, window)
      .select("fp").distinct()
    fingerprintStream(corpus, idCol, textCol, shingleN, window)
      .join(broadcast(benchFps), Seq("fp"), "left_semi")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_matched")) // fps are distinct per doc already
  }

  /** (id, fp) exploded winnowing-fingerprint stream — shared by the
    * decontamination paths. */
  private def fingerprintStream(df: DataFrame, idCol: String, textCol: String,
                                shingleN: Int, window: Int): DataFrame =
    graft.scale.Skew.ensureParallelism(df)
      .select(col(idCol).as("id"),
        winnowingFingerprints(col(textCol), shingleN, window).as("fps"))
      .filter(size(col("fps")) > 0)
      .select(col("id"), explode(col("fps")).as("fp"))

  /** Bloom-prefiltered decontamination — result-identical to
    * `decontaminate` (the exact semi-join still verifies every survivor,
    * killing the sketch's false positives), but the corpus fingerprint
    * stream is cut down by a broadcast Bloom filter BEFORE it reaches the
    * verify join.
    *
    * Why it matters at 100 TB: `decontaminate` broadcasts the exact
    * benchmark fingerprint SET (8 B × |bench fps| per executor, plus a
    * hashed relation) and feeds the whole corpus stream into the join. A
    * Bloom filter at 1% fpp is ~1.2 B per item — ~7× smaller than the
    * exact set — and its `mightContain` runs inside the scan stage, so
    * ~99% of corpus fingerprints die before the exchange. The join then
    * verifies only true matches + the 1% false positives. For a 10⁸-
    * fingerprint benchmark suite the sketch is ~120 MB (broadcastable)
    * where the exact set would be ≥800 MB.
    *
    * The filter itself is built with Spark's own
    * DataFrameStatFunctions.bloomFilter (one distributed aggregation).
    * The membership probe is a scalar UDF — acceptable here because a
    * Bloom probe is a black-box bit test no Catalyst expression provides,
    * and it sits in front of (not instead of) the codegen'd verify join. */
  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String,
                         shingleN: Int = 13, window: Int = 1,
                         fpp: Double = 0.01): DataFrame = graft.Lineage.scoped { scope =>
    val benchFps = scope.cached(fingerprintStream(benchmark, idCol, textCol, shingleN, window)
      .select("fp").distinct())
    val nBench = benchFps.count() // sizes the sketch; also materializes the cache
    val bloom = benchFps.stat.bloomFilter("fp", math.max(nBench, 1L), fpp)
    val bloomBc = corpus.sparkSession.sparkContext.broadcast(bloom)
    val mightContain = udf((fp: Long) => bloomBc.value.mightContainLong(fp))
    fingerprintStream(corpus, idCol, textCol, shingleN, window)
      .filter(mightContain(col("fp")))
      .join(broadcast(benchFps), Seq("fp"), "left_semi")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_matched"))
      // cut lineage before the scope releases benchFps: the result must
      // not silently recompute through a dropped cache
      .localCheckpoint()
  }

  /** 64-bit SimHash: sum ±1 per bit over token hashes, sign → bit — one
    * codegen loop (graft.functions.SimHash64) instead of a 64-wide
    * interpreted zip per token. */
  def simhash(text: Column): Column =
    graft.functions.TextExpressions.simhash64(TextOps.tokens(text))

  /** SimHash near-dup candidates: split the 64-bit hash into `blocks`
    * equal-width blocks; docs matching on any block are candidates
    * (guaranteed to include all pairs with hamming distance < blocks).
    * `maxHamming` prunes candidates above a hamming radius BEFORE the
    * dedup shuffle — a cost guard, not a recall guarantee beyond
    * `blocks - 1`.
    *
    * Scale note — the bucket self-join's output is ~blocks·N²/2^(64/blocks+1)
    * rows BEFORE the hamming filter (the filter bounds the downstream
    * shuffle, not the join product). blocks=4 → 16-bit keys → birthday-safe
    * to N ≈ 10⁷ per natural bucket-key distribution; blocks=8 → 8-bit keys
    * → quadratic past N ≈ 10⁵ and must not be used at scale. If recall
    * beyond hamming 3 is needed, union these candidates with a minhash-LSH
    * set (see queries.TextQueries q35) instead of narrowing the blocks. */
  def simhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        blocks: Int = 4, maxHamming: Int = 64): DataFrame = graft.Lineage.scoped { scope =>
    val width = 64 / blocks
    // simhash is the expensive part (64-wide zip per token) — compute once
    val hashed = scope.cached(graft.scale.Skew.ensureParallelism(df)
      .select(col(idCol).as("id"), simhash(col(textCol)).as("simhash")))
    val blocked = hashed.select(col("id"), col("simhash"),
      posexplode(transform(sequence(lit(0), lit(blocks - 1)),
        b => call_function("shiftright", col("simhash"), (b * width).cast("int"))
          .bitwiseAND(lit((1L << width) - 1)))))
      .withColumnRenamed("pos", "block").withColumnRenamed("col", "key")
    val a = blocked.select(col("block"), col("key"), col("id").as("id_a"), col("simhash").as("h_a"))
    val b = blocked.select(col("block"), col("key"), col("id").as("id_b"), col("simhash").as("h_b"))
    a.join(b, Seq("block", "key"))
      .filter(col("id_a") < col("id_b"))
      // hamming is computable straight off the joined row — filtering here
      // keeps the dropDuplicates shuffle to the (tiny) surviving set rather
      // than the full bucket-collision fan-out
      .withColumn("hamming", bit_count(col("h_a").bitwiseXOR(col("h_b"))))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"), col("hamming"))
      .localCheckpoint()
  }

  /** Directional n-gram containment (Broder's C(A,B) = |A∩B| / |A|) for
    * every pair sharing a shingle — the asymmetric near-dup signal that
    * Jaccard misses: a document PASTED INSIDE a larger one has high
    * containment but low Jaccard, so sub-document duplication (quote
    * farms, boilerplate wrappers) needs this score. Same inverted-index
    * + dfCap skew-guard shape as [[ngramJaccardPairs]]; emits both
    * directions (cont_ab = share of A's shingles inside B), keeping
    * pairs where EITHER direction clears `minContainment`. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       shingleN: Int = 3, minContainment: Double = 0.5,
                       dfCap: Int = 100): DataFrame = graft.Lineage.scoped { scope =>
    val r4 = (c: org.apache.spark.sql.Column) =>
      graft.functions.StableRound.tieStableRound(c, 4)
    val docs = graft.scale.Skew.ensureParallelism(df)
      .select(col(idCol).as("id"),
        graft.functions.TextExpressions.distinctShingleHashes(
          TextOps.tokens(col(textCol)), shingleN).as("shingles"))
      .withColumn("n_shingles", size(col("shingles")))
      .filter(col("n_shingles") > 0)
    val inverted = scope.cached(docs
      .select(col("id"), col("n_shingles"), explode(col("shingles")).as("shingle")))
    val hot = inverted.groupBy("shingle").count().filter(col("count") > dfCap).select("shingle")
    val cold = inverted.join(hot, Seq("shingle"), "left_anti")
    val a = cold.select(col("shingle"), col("id").as("id_a"), col("n_shingles").as("n_a"))
    val b = cold.select(col("shingle"), col("id").as("id_b"), col("n_shingles").as("n_b"))
    a.join(b, Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("n_common"))
      .withColumn("cont_ab", r4(col("n_common").cast("double") / col("n_a").cast("double")))
      .withColumn("cont_ba", r4(col("n_common").cast("double") / col("n_b").cast("double")))
      .filter(col("cont_ab") >= minContainment || col("cont_ba") >= minContainment)
      .select(col("id_a"), col("id_b"), col("cont_ab"), col("cont_ba"))
      .localCheckpoint()
  }
}
