package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.StableRound

/** Mining and retrieval extensions: weighted shortest paths
  * (Bellman-Ford), exact prefix-filtered set-similarity join
  * (AllPairs/PPJoin), deterministic integer k-means (Lloyd), density
  * clustering (DBSCAN), incremental batch-vs-index near-dup, positional
  * phrase search, the TPC-H Q21-shaped correlated anti/semi-join, the
  * declarative data-quality suite, grouped OLS trends, binary confusion
  * metrics, the source-overlap matrix, embedding-dimension diagnostics,
  * and reproducible walk sampling. Each query's oracle is the
  * independent textbook construction in DuckDB — recursive-CTE path
  * enumeration, uncapped all-pairs Jaccard, unrolled Lloyd iterations,
  * ε-neighborhood closure, full-scan bigram comprehension, literal
  * EXISTS/NOT-EXISTS, literal SQL aggregates, and unrolled argmin CTEs
  * respectively.
  */
object MiningQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Weighted supply DAG: P→S edges carry the cheapest observed price in
    * exact cents (min over lineitems per (part, supplier)); S→N the
    * supplier's account balance in cents (NEGATIVE for debtors — the
    * Bellman-Ford-only case); N→R the nation key. Same node universe as
    * the q112/q81 supply graph. */
  private def supplyWeightedEdges(s: SparkSession, dir: String): DataFrame = {
    val smallParts = Tables.part(s, dir)
      .filter(col("p_size") <= 10).select(col("p_partkey"))
    val e1 = Tables.lineitem(s, dir)
      .join(broadcast(smallParts), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(floor(col("l_extendedprice") * 100 + 0.5).cast("long")).as("w"))
      .select(concat(lit("P:"), col("l_partkey")).as("src"),
        concat(lit("S:"), col("l_suppkey")).as("dst"), col("w"))
    val e2 = Tables.supplier(s, dir).select(
      concat(lit("S:"), col("s_suppkey")).as("src"),
      concat(lit("N:"), col("s_nationkey")).as("dst"),
      floor(col("s_acctbal") * 100 + 0.5).cast("long").as("w"))
    val e3 = Tables.nation(s, dir).select(
      concat(lit("N:"), col("n_nationkey")).as("src"),
      concat(lit("R:"), col("n_regionkey")).as("dst"),
      col("n_nationkey").cast("long").as("w"))
    e1.unionByName(e2).unionByName(e3)
  }

  /** q124 — multi-source weighted shortest paths over the supply DAG
    * ([[graft.graph.ShortestPaths]]): cheapest cents-exact route from any
    * part to every reachable node. 3 relaxation rounds = the 3-hop
    * longest path ⇒ exact fixpoint (idempotence beyond that is
    * spec-proven on ShortestPathsSpec). Oracle: recursive-CTE path
    * enumeration + min — a different algorithm (all paths, then min)
    * reaching the same fixpoint. */
  private val q124: Q = (s, dir) => graft.Lineage.scoped { scope =>
    // cache the edge aggregate: both the seed scan and the engine's own
    // repartition read it, and without the cache the lineitem groupBy
    // lineage would run twice
    val e = scope.cached(supplyWeightedEdges(s, dir))
    val seeds = e.filter(col("src").startsWith("P:")).select(col("src").as("node"))
    graft.graph.ShortestPaths.run(e, seeds, rounds = 3).orderBy(col("node"))
  }

  private val q124Sql =
    """WITH RECURSIVE ed AS MATERIALIZED (
         SELECT 'P:' || l_partkey AS src, 'S:' || l_suppkey AS dst,
                min(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS w
         FROM lineitem JOIN part ON l_partkey = p_partkey WHERE p_size <= 10
         GROUP BY 1, 2
         UNION ALL SELECT 'S:' || s_suppkey, 'N:' || s_nationkey,
                CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT) FROM supplier
         UNION ALL SELECT 'N:' || n_nationkey, 'R:' || n_regionkey,
                CAST(n_nationkey AS BIGINT) FROM nation),
       paths AS (
         SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS dist FROM ed WHERE src LIKE 'P:%'
         UNION ALL
         SELECT e.dst, p.dist + e.w FROM paths p JOIN ed e ON p.node = e.src)
       SELECT node, min(dist) AS dist FROM paths GROUP BY node ORDER BY node"""

  /** q125 — EXACT set-similarity self-join by prefix filtering
    * ([[graft.dedup.PrefixJoin]]): every document pair with 3-gram
    * Jaccard ≥ 0.4, guaranteed recall with no dfCap compromise (the
    * rarest-first prefix keeps hot shingles out of the index). Oracle:
    * UNCAPPED all-pairs inverted-index Jaccard — feasible exactly
    * because this corpus' shingle dfs are small, which is also why the
    * engine needs no skew cap here. */
  private val q125: Q = (s, dir) =>
    graft.dedup.PrefixJoin.selfJoin(Tables.documents(s, dir), "doc_id", "text",
        shingleN = 3, tau = 0.4)
      .orderBy(col("id_a"), col("id_b"))

  private val q125Jacc = StableRound.sql(
    "CAST(count(*) AS DOUBLE) / (any_value(a.n_shingles) + any_value(b.n_shingles) - count(*))", 4)

  private val q125Sql =
    s"""WITH docs AS (
         SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ')
                 FOR i IN range(1, greatest(len(w) - 1, 1))]) AS shingles
         FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
               FROM documents WHERE length(trim(text)) > 0)),
       sized AS (SELECT doc_id, shingles, len(shingles) AS n_shingles
                 FROM docs WHERE len(shingles) > 0),
       inverted AS (SELECT doc_id, n_shingles, unnest(shingles) AS shingle FROM sized)
       SELECT a.doc_id AS id_a, b.doc_id AS id_b, $q125Jacc AS jaccard
       FROM inverted a JOIN inverted b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       GROUP BY a.doc_id, b.doc_id
       HAVING $q125Jacc >= 0.4
       ORDER BY id_a, id_b"""

  /** q126 — deterministic integer k-means ([[graft.sim.IntKMeans]]) over
    * the first 4 embedding coordinates, k = 10 (the corpus has 10 latent
    * labels), 2 Lloyd iterations + final assignment. Oracle: the
    * iterations unrolled as chained CTEs with bit-identical integer
    * arithmetic. */
  private val kmK = 10
  private val kmIters = 2
  private val kmDims = 4

  private val q126: Q = (s, dir) => {
    val pts = Tables.embeddings(s, dir).select(col("vec_id").as("id"),
      expr("transform(slice(embedding, 1, 4), e -> cast(floor(cast(e as double) * 1000) as long))").as("x"))
    graft.sim.IntKMeans.assign(pts, k = kmK, dims = kmDims, iterations = kmIters)
      .select(col("id").as("vec_id"), col("cluster"), col("d2"))
      .orderBy(col("vec_id"))
  }

  private val q126Sql: String = {
    val dims = 1 to kmDims
    val xCols = dims.map(i =>
      s"CAST(floor(CAST(embedding[$i] AS DOUBLE) * 1000) AS BIGINT) AS x$i").mkString(", ")
    def d2(p: String, c: String) = dims.map(i =>
      s"($p.x$i - $c.c$i) * ($p.x$i - $c.c$i)").mkString(" + ")
    def assignCte(name: String, cents: String) =
      s"""$name AS MATERIALIZED (
         SELECT vec_id, ${dims.map(i => s"x$i").mkString(", ")}, cid, d2 FROM (
           SELECT p.vec_id, ${dims.map(i => s"p.x$i").mkString(", ")}, c.cid,
                  ${d2("p", "c")} AS d2,
                  row_number() OVER (PARTITION BY p.vec_id
                    ORDER BY ${d2("p", "c")}, c.cid) AS rn
           FROM p CROSS JOIN $cents c) WHERE rn = 1)"""
    def updateCte(name: String, assigned: String, prev: String) =
      s"""${name}_u AS MATERIALIZED (
         SELECT cid, ${dims.map(i =>
           s"CAST(floor(CAST(sum(x$i) AS DOUBLE) / count(*)) AS BIGINT) AS c$i").mkString(", ")}
         FROM $assigned GROUP BY cid),
       $name AS MATERIALIZED (
         SELECT $prev.cid, ${dims.map(i =>
           s"coalesce(u.c$i, $prev.c$i) AS c$i").mkString(", ")}
         FROM $prev LEFT JOIN ${name}_u u ON $prev.cid = u.cid)"""
    val iterCtes = (1 to kmIters).map { t =>
      assignCte(s"a$t", s"c${t - 1}") + ",\n" + updateCte(s"c$t", s"a$t", s"c${t - 1}")
    }.mkString(",\n")
    s"""WITH p AS MATERIALIZED (SELECT vec_id, $xCols FROM embeddings),
       c0 AS MATERIALIZED (
         SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
                ${dims.map(i => s"x$i AS c$i").mkString(", ")}
         FROM (SELECT * FROM p ORDER BY vec_id LIMIT $kmK)),
       $iterCtes,
       ${assignCte("afinal", s"c$kmIters")}
       SELECT vec_id, cid AS cluster, d2 FROM afinal ORDER BY vec_id"""
  }

  /** q127 — DBSCAN ([[graft.sim.Dbscan]]) on the first two embedding
    * coordinates, milli-scaled (ε = 60 ⇒ 0.06, minPts = 5): core /
    * border / noise roles plus min-core-id cluster labels via connected
    * components of the core ε-graph. Oracle: bounding-box-prefiltered
    * all-pairs ε-neighborhood + recursive closure — grid blocking on the
    * engine side vs. plain range join on the oracle side. */
  private val q127: Q = (s, dir) => {
    val pts = Tables.embeddings(s, dir).select(col("vec_id").as("id"),
      floor(element_at(col("embedding"), 1).cast("double") * 1000).cast("long").as("x"),
      floor(element_at(col("embedding"), 2).cast("double") * 1000).cast("long").as("y"))
    graft.sim.Dbscan.run(pts, eps = 60L, minPts = 5)
      .select(col("id").as("vec_id"), col("role"), col("cluster"))
      .orderBy(col("vec_id"))
  }

  private val q127Sql =
    """WITH RECURSIVE pts AS MATERIALIZED (
         SELECT vec_id, CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT) AS x,
                CAST(floor(CAST(embedding[2] AS DOUBLE) * 1000) AS BIGINT) AS y
         FROM embeddings),
       nb AS MATERIALIZED (
         SELECT a.vec_id AS ia, b.vec_id AS ib FROM pts a JOIN pts b
           ON a.vec_id <> b.vec_id
          AND abs(a.x - b.x) <= 60 AND abs(a.y - b.y) <= 60
          AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 3600),
       core AS MATERIALIZED (
         SELECT p.vec_id AS id FROM pts p LEFT JOIN nb n ON n.ia = p.vec_id
         GROUP BY p.vec_id HAVING count(n.ib) + 1 >= 5),
       ce AS MATERIALIZED (
         SELECT ia, ib FROM nb
         WHERE ia IN (SELECT id FROM core) AND ib IN (SELECT id FROM core)),
       reach AS (
         SELECT id AS root, id AS node FROM core
         UNION
         SELECT r.root, e.ib FROM reach r JOIN ce e ON r.node = e.ia),
       comp AS MATERIALIZED (
         SELECT node AS id, min(root) AS cluster FROM reach GROUP BY node),
       border AS MATERIALIZED (
         SELECT n.ia AS id, min(c.cluster) AS cluster
         FROM nb n JOIN comp c ON n.ib = c.id
         WHERE n.ia NOT IN (SELECT id FROM core) GROUP BY n.ia)
       SELECT p.vec_id,
              CASE WHEN comp.id IS NOT NULL THEN 'core'
                   WHEN border.id IS NOT NULL THEN 'border'
                   ELSE 'noise' END AS role,
              coalesce(comp.cluster, border.cluster, CAST(-1 AS BIGINT)) AS cluster
       FROM pts p
       LEFT JOIN comp ON p.vec_id = comp.id
       LEFT JOIN border ON p.vec_id = border.id
       ORDER BY p.vec_id"""

  /** q128 — incremental near-dup ([[graft.dedup.Dedup.incrementalNearDup]]):
    * a new batch (doc_id ≡ 0 mod 10) probed against the LSH index of the
    * existing corpus — the daily-ingest shape where the corpus is never
    * self-joined. Candidates are banded-minhash (recall structural at
    * 32×2 bands for τ = 0.8, the q34 argument); the verified output is
    * exact, so it oracles against all-pairs batch×corpus Jaccard. */
  private val q128: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    graft.dedup.Dedup.incrementalNearDup(
        index = docs.filter(col("doc_id") % 10 =!= 0),
        batch = docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", shingleN = 3, bands = 32, rowsPerBand = 2, tau = 0.8)
      .orderBy(col("doc_id"))
  }

  private val q128Sql =
    s"""WITH docs AS (
         SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ')
                 FOR i IN range(1, greatest(len(w) - 1, 1))]) AS shingles
         FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
               FROM documents WHERE length(trim(text)) > 0)),
       sized AS (SELECT doc_id, shingles, len(shingles) AS n_shingles
                 FROM docs WHERE len(shingles) > 0),
       ib AS (SELECT doc_id, n_shingles, unnest(shingles) AS shingle
              FROM sized WHERE doc_id % 10 = 0),
       ic AS (SELECT doc_id, n_shingles, unnest(shingles) AS shingle
              FROM sized WHERE doc_id % 10 != 0),
       pairs AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, $q125Jacc AS jaccard
         FROM ib a JOIN ic b ON a.shingle = b.shingle
         GROUP BY a.doc_id, b.doc_id
         HAVING $q125Jacc >= 0.8)
       SELECT id_a AS doc_id, id_b AS dup_of, jaccard
       FROM (SELECT *, row_number() OVER (PARTITION BY id_a ORDER BY id_b) AS rn
             FROM pairs)
       WHERE rn = 1 ORDER BY doc_id"""

  /** q129 — positional phrase search: exact 2-token phrase occurrence
    * counts via a positional inverted index (filter each word — pushed
    * scans — then a (doc, pos) equi-join), the IR primitive BM25's
    * bag-of-words scoring can't express. Oracle: per-document bigram
    * list comprehension — a full-scan formulation of the same truth. */
  private val phrases = Seq("hash join", "table scan", "batch batch")

  private val q129: Q = (s, dir) => {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), posexplode(graft.text.TextOps.tokens(col("text"))))
      .toDF("doc_id", "pos", "tok")
    phrases.map { p =>
      val Array(w1, w2) = p.split(" ")
      val t1 = toks.filter(col("tok") === w1).select(col("doc_id"), col("pos"))
      val t2 = toks.filter(col("tok") === w2)
        .select(col("doc_id"), (col("pos") - 1).as("pos"))
      t1.join(t2, Seq("doc_id", "pos"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        .select(lit(p).as("phrase"), col("doc_id"), col("n"))
    }.reduce(_.unionByName(_)).orderBy(col("phrase"), col("doc_id"))
  }

  private val q129Sql = {
    val values = phrases.map(p => s"('$p')").mkString(", ")
    s"""WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
               FROM documents WHERE length(trim(text)) > 0),
       bg AS (SELECT doc_id, [array_to_string(w[i:i+1], ' ')
               FOR i IN range(1, greatest(len(w), 1))] AS bigrams FROM w)
       SELECT p.phrase, b.doc_id,
              CAST(len([x FOR x IN b.bigrams IF x = p.phrase]) AS BIGINT) AS n
       FROM bg b CROSS JOIN (VALUES $values) p(phrase)
       WHERE len([x FOR x IN b.bigrams IF x = p.phrase]) > 0
       ORDER BY phrase, doc_id"""
  }

  /** q130 — TPC-H Q21-shaped "sole late supplier": suppliers who, in
    * multi-supplier orders, were the ONLY one shipping late (> 30 days
    * after the order date) — the correlated EXISTS / NOT-EXISTS pattern,
    * expressed as one non-equi left-semi plus one non-equi left-anti
    * join on the distinct (order, supplier) pairs. Oracle: the literal
    * EXISTS/NOT-EXISTS subquery formulation. */
  private val q130: Q = (s, dir) => {
    val l = Tables.lineitem(s, dir)
    val late = l.join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > date_add(col("o_orderdate"), 30))
      .select(col("l_orderkey"), col("l_suppkey")).distinct()
    val allSupp = l.select(col("l_orderkey"), col("l_suppkey")).distinct()
    late.alias("a")
      .join(allSupp.alias("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_suppkey") =!= col("b.l_suppkey"), "left_semi")
      .alias("a")
      .join(late.alias("c"),
        col("a.l_orderkey") === col("c.l_orderkey") &&
          col("a.l_suppkey") =!= col("c.l_suppkey"), "left_anti")
      .groupBy(col("l_suppkey")).agg(count(lit(1)).as("numwait"))
      .orderBy(col("l_suppkey"))
  }

  private val q130Sql =
    """WITH late AS (SELECT DISTINCT l_orderkey, l_suppkey
                     FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                     WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY),
            al AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
       SELECT l_suppkey, CAST(count(*) AS BIGINT) AS numwait
       FROM late t
       WHERE EXISTS (SELECT 1 FROM al o
                     WHERE o.l_orderkey = t.l_orderkey AND o.l_suppkey <> t.l_suppkey)
         AND NOT EXISTS (SELECT 1 FROM late w
                     WHERE w.l_orderkey = t.l_orderkey AND w.l_suppkey <> t.l_suppkey)
       GROUP BY l_suppkey ORDER BY l_suppkey"""

  /** q131 — declarative data-quality suite ([[graft.quality.Checks]]):
    * six typed constraints over lineitem compiled into one aggregation
    * pass plus one referential join — completeness, composite-key
    * uniqueness (FAILS on this data: (l_orderkey, l_linenumber) repeats
    * — the suite proving it detects), two range checks (one passing,
    * one violated by the l_quantity tail), pattern conformance, and
    * orders containment. Oracle: each metric as a literal SQL aggregate. */
  private val q131: Q = (s, dir) => {
    import graft.quality.Checks._
    run(Tables.lineitem(s, dir), Seq(
      Completeness("completeness_l_quantity", "l_quantity"),
      Uniqueness("unique_order_line", Seq("l_orderkey", "l_linenumber")),
      InRange("range_l_discount", "l_discount", 0.0, 0.1),
      InRange("range_l_quantity", "l_quantity", 1.0, 45.0),
      PatternMatch("pattern_returnflag", "l_returnflag", "^[ANR]$"),
      Containment("ref_orders", "l_orderkey", Tables.orders(s, dir), "o_orderkey")))
  }

  private val q131Sql = {
    def r(e: String) = StableRound.sql(e, 6)
    s"""WITH m AS (SELECT
           CAST(count(l_quantity) AS DOUBLE) / count(*) AS completeness_qty,
           CAST(count(DISTINCT (l_orderkey, l_linenumber)) AS DOUBLE) / count(*) AS uniq_line,
           CAST(count(CASE WHEN l_discount >= 0.0 AND l_discount <= 0.1 THEN 1 END) AS DOUBLE) / count(*) AS range_disc,
           CAST(count(CASE WHEN l_quantity >= 1.0 AND l_quantity <= 45.0 THEN 1 END) AS DOUBLE) / count(*) AS range_qty,
           CAST(count(CASE WHEN regexp_matches(l_returnflag, '^[ANR]$$') THEN 1 END) AS DOUBLE) / count(*) AS pat_flag
         FROM lineitem),
       c AS (SELECT CAST(count(o.k) AS DOUBLE) / count(*) AS containment
             FROM lineitem l LEFT JOIN
               (SELECT DISTINCT o_orderkey AS k FROM orders) o ON l.l_orderkey = o.k),
       rows_(check_name, metric, exact_m, min_ratio) AS (
         SELECT 'completeness_l_quantity', ${r("completeness_qty")}, completeness_qty, 1.0 FROM m
         UNION ALL SELECT 'unique_order_line', ${r("uniq_line")}, uniq_line, 1.0 FROM m
         UNION ALL SELECT 'range_l_discount', ${r("range_disc")}, range_disc, 1.0 FROM m
         UNION ALL SELECT 'range_l_quantity', ${r("range_qty")}, range_qty, 1.0 FROM m
         UNION ALL SELECT 'pattern_returnflag', ${r("pat_flag")}, pat_flag, 1.0 FROM m
         UNION ALL SELECT 'ref_orders', ${r("containment")}, containment, 1.0 FROM c)
       SELECT check_name, metric, exact_m >= min_ratio AS passed
       FROM rows_ ORDER BY check_name"""
  }

  /** q132 — grouped OLS trend (exact-integer sufficient statistics):
    * per-event-type slope/intercept of value over time, with x = whole
    * minutes since the GROUP's first event and y = value in exact
    * cents, so Σx, Σy, Σx², Σxy are exact 64-bit integers (bounded:
    * 30-day span ⇒ x ≤ 43 200; value ≤ 561 ⇒ y ≤ 56 121; every
    * closed-form term stays ≥10× inside Long range at sf0.1) and the
    * closed-form slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) divides exact
    * integers once — no per-row float accumulation order to disagree
    * on. Oracle: the identical sufficient-statistics formulation. */
  private val q132: Q = (s, dir) => {
    val e = Tables.events(s, dir).filter(col("value").isNotNull)
    val mins = e.groupBy(col("event_type"))
      .agg(min(unix_micros(col("ts"))).as("t0"))
    val xy = e.join(broadcast(mins), Seq("event_type"))
      .select(col("event_type"),
        expr("(unix_micros(ts) - t0) div 60000000").as("x"),
        floor(col("value") * 100 + 0.5).cast("long").as("y"))
    val sums = xy.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
    val den = col("n") * col("sxx") - col("sx") * col("sx")
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
      when(den === 0, null).otherwise(den).cast("double")
    sums.select(col("event_type"), col("n"),
        StableRound.tieStableRound(slope, 6).as("slope"),
        StableRound.tieStableRound(
          (col("sy").cast("double") - slope * col("sx").cast("double")) /
            col("n").cast("double"), 6).as("intercept"))
      .orderBy(col("event_type"))
  }

  private val q132Sql = {
    val slope = "CAST(n * sxy - sx * sy AS DOUBLE) / CAST(nullif(n * sxx - sx * sx, 0) AS DOUBLE)"
    s"""WITH e AS (SELECT event_type, epoch_us(ts) AS t, value
                   FROM events WHERE value IS NOT NULL),
       m AS (SELECT event_type, min(t) AS t0 FROM e GROUP BY 1),
       xy AS (SELECT e.event_type, (e.t - m.t0) // 60000000 AS x,
                     CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
              FROM e JOIN m ON e.event_type = m.event_type),
       s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy
             FROM xy GROUP BY 1)
       SELECT event_type, n,
              ${StableRound.sql(slope, 6)} AS slope,
              ${StableRound.sql(s"(CAST(sy AS DOUBLE) - ($slope) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)", 6)} AS intercept
       FROM s ORDER BY event_type"""
  }

  /** q133 — binary confusion metrics ([[graft.operators.Evaluation
    * .binaryMetrics]]) of a sign-of-first-feature decision rule against
    * the even/odd label split: exact integer confusion counts in one
    * aggregation, precision/recall/F1/accuracy as single divisions of
    * exact integers. Oracle: literal CASE-counting twin. */
  private val q133: Q = (s, dir) =>
    graft.operators.Evaluation.binaryMetrics(Tables.embeddings(s, dir),
      actual = col("label") % 2 === 0,
      predicted = element_at(col("embedding"), 1).cast("double") > 0)

  private val q133Sql = {
    def r(e: String) = StableRound.sql(e, 6)
    s"""WITH c AS (SELECT
           CAST(count(CASE WHEN label % 2 = 0 AND CAST(embedding[1] AS DOUBLE) > 0 THEN 1 END) AS BIGINT) AS tp,
           CAST(count(CASE WHEN label % 2 != 0 AND CAST(embedding[1] AS DOUBLE) > 0 THEN 1 END) AS BIGINT) AS fp,
           CAST(count(CASE WHEN label % 2 = 0 AND NOT (CAST(embedding[1] AS DOUBLE) > 0) THEN 1 END) AS BIGINT) AS fn,
           CAST(count(CASE WHEN label % 2 != 0 AND NOT (CAST(embedding[1] AS DOUBLE) > 0) THEN 1 END) AS BIGINT) AS tn
         FROM embeddings)
       SELECT tp, fp, fn, tn,
              ${r("CAST(tp AS DOUBLE) / CAST(nullif(tp + fp, 0) AS DOUBLE)")} AS precision,
              ${r("CAST(tp AS DOUBLE) / CAST(nullif(tp + fn, 0) AS DOUBLE)")} AS recall,
              ${r("CAST(tp * 2 AS DOUBLE) / CAST(nullif(tp * 2 + fp + fn, 0) AS DOUBLE)")} AS f1,
              ${r("CAST(tp + tn AS DOUBLE) / CAST(nullif(tp + fp + fn + tn, 0) AS DOUBLE)")} AS accuracy
       FROM c"""
  }

  /** q134 — corpus overlap matrix: exact 3-gram shingle-set Jaccard
    * between every pair of SOURCES — the dataset-level dedup diagnostic
    * run before mixing corpora (a high-overlap source pair means one is
    * largely redundant). Source-level sets collapse the corpus to
    * (source, shingle) distinct postings first; the pair join runs on
    * that collapsed index, never on documents. */
  private val q134: Q = (s, dir) => graft.Lineage.scoped { scope =>
    val toks = scope.cached(Tables.documents(s, dir)
      .select(col("source"),
        explode(graft.functions.TextExpressions.distinctShingleHashes(
          graft.text.TextOps.tokens(col("text")), 3)).as("sh"))
      .distinct())
    val sized = toks.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val a = toks.join(sized, Seq("source"))
      .select(col("sh"), col("source").as("src_a"), col("n").as("n_a"))
    val b = toks.join(sized, Seq("source"))
      .select(col("sh"), col("source").as("src_b"), col("n").as("n_b"))
    a.join(b, Seq("sh"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("inter"))
      .select(col("src_a"), col("src_b"),
        StableRound.tieStableRound(col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")).cast("double"), 4).as("jaccard"))
      .orderBy(col("src_a"), col("src_b"))
      .localCheckpoint()
  }

  private val q134Sql =
    s"""WITH docs AS (
         SELECT source, list_distinct([array_to_string(w[i:i+2], ' ')
                 FOR i IN range(1, greatest(len(w) - 1, 1))]) AS shingles
         FROM (SELECT source, string_split_regex(trim(text), '\\s+') AS w
               FROM documents WHERE length(trim(text)) > 0)),
       toks AS (SELECT DISTINCT source, unnest(shingles) AS sh FROM docs),
       sized AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY 1)
       SELECT a.source AS src_a, b.source AS src_b,
              ${StableRound.sql(
                "CAST(count(*) AS DOUBLE) / CAST(any_value(sa.n) + any_value(sb.n) - count(*) AS DOUBLE)", 4)} AS jaccard
       FROM toks a JOIN toks b ON a.sh = b.sh AND a.source < b.source
       JOIN sized sa ON sa.source = a.source
       JOIN sized sb ON sb.source = b.source
       GROUP BY a.source, b.source
       ORDER BY src_a, src_b"""

  /** q135 — embedding-space health diagnostics: per-DIMENSION n, mean,
    * variance, min, max over milli-scaled integer features plus the
    * dead-dimension ratio (|x| < 0.01) — the drift/collapse check run
    * before trusting an embedding column for dedup or ANN (a dimension
    * whose variance collapses or saturates poisons every cosine
    * downstream). Exact arithmetic: variance via the integer identity
    * (nΣx² − (Σx)²)/n², one division at the end. */
  private val q135: Q = (s, dir) => {
    val x = Tables.embeddings(s, dir)
      .select(posexplode(col("embedding")))
      .select((col("pos") + 1).as("dim"),
        floor(col("col").cast("double") * 1000).cast("long").as("x"))
    val sums = x.groupBy(col("dim")).agg(
      count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("x") * col("x")).as("sxx"),
      min(col("x")).as("min_x"), max(col("x")).as("max_x"),
      count(when(abs(col("x")) < 10, 1)).as("n_dead"))
    sums.select(col("dim"), col("n"),
        StableRound.tieStableRound(
          col("sx").cast("double") / col("n").cast("double"), 6).as("mean"),
        StableRound.tieStableRound(
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double") /
            (col("n") * col("n")).cast("double"), 6).as("variance"),
        col("min_x"), col("max_x"),
        StableRound.tieStableRound(
          col("n_dead").cast("double") / col("n").cast("double"), 6).as("dead_ratio"))
      .orderBy(col("dim"))
  }

  private val q135Sql = {
    def r(e: String) = StableRound.sql(e, 6)
    s"""WITH x AS (
         SELECT t.i AS dim,
                CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1000) AS BIGINT) AS x
         FROM embeddings, generate_series(1, 64) t(i)),
       s AS (SELECT dim, CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
                    CAST(sum(x * x) AS BIGINT) AS sxx,
                    min(x) AS min_x, max(x) AS max_x,
                    CAST(count(CASE WHEN abs(x) < 10 THEN 1 END) AS BIGINT) AS n_dead
             FROM x GROUP BY dim)
       SELECT CAST(dim AS INTEGER) AS dim, n,
              ${r("CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)")} AS mean,
              ${r("CAST(n * sxx - sx * sx AS DOUBLE) / CAST(n * n AS DOUBLE)")} AS variance,
              min_x, max_x,
              ${r("CAST(n_dead AS DOUBLE) / CAST(n AS DOUBLE)")} AS dead_ratio
       FROM s ORDER BY dim"""
  }

  /** q136 — reproducible walk sampling ([[graft.graph.Walks]]): one
    * 3-hop hash-seeded walk from every part node of the supply graph —
    * the deterministic walk-corpus primitive of graph-embedding prep.
    * Node ordinal = the numeric id after the 'X:' prefix. Oracle: the
    * three hops unrolled as row_number-argmin CTEs over the identical
    * mixing hash. */
  private val q136: Q = (s, dir) => graft.Lineage.scoped { scope =>
    val e = scope.cached(supplyWeightedEdges(s, dir).select(col("src"), col("dst")))
    val seeds = e.filter(col("src").startsWith("P:")).select(col("src").as("node"))
    graft.graph.Walks.run(e, seeds, steps = 3,
      ord = c => substring(c, 3, 18).cast("long")).orderBy(col("start"))
  }

  private val q136Sql = {
    def score(cur: String, i: Int, dst: String) =
      s"(CAST(substring($cur, 3) AS BIGINT) * 31 + $i * 17 + " +
        s"CAST(substring($dst, 3) AS BIGINT) * 2654435761) % 1000003"
    // LEFT join so a walk that dead-ends survives with NULL hops — the
    // engine's documented semantics ('dead ends stick', WalksSpec). An
    // INNER join would only match today because every P->S->N->R walk on
    // this DAG completes all 3 hops; the oracle must encode the contract,
    // not the coincidence. NULLS LAST so a real neighbor always beats the
    // (only-when-no-match) null row at rn=1.
    def hop(name: String, from: String, curCol: String, i: Int, keep: String) =
      s"""$name AS (
         SELECT $keep, dst AS hop$i FROM (
           SELECT f.*, e.dst,
                  row_number() OVER (PARTITION BY f.start
                    ORDER BY ${score(s"f.$curCol", i, "e.dst")} NULLS LAST,
                             e.dst NULLS LAST) AS rn
           FROM $from f LEFT JOIN ed e ON e.src = f.$curCol) WHERE rn = 1)"""
    s"""WITH ed AS MATERIALIZED (
         SELECT DISTINCT 'P:' || l_partkey AS src, 'S:' || l_suppkey AS dst
         FROM lineitem JOIN part ON l_partkey = p_partkey WHERE p_size <= 10
         UNION SELECT DISTINCT 'S:' || s_suppkey, 'N:' || s_nationkey FROM supplier
         UNION SELECT DISTINCT 'N:' || n_nationkey, 'R:' || n_regionkey FROM nation),
       seeds AS (SELECT DISTINCT src AS start FROM ed WHERE src LIKE 'P:%'),
       ${hop("w1", "seeds", "start", 1, "start")},
       ${hop("w2", "w1", "hop1", 2, "start, hop1")},
       ${hop("w3", "w2", "hop2", 3, "start, hop1, hop2")}
       SELECT start, hop1, hop2, hop3 FROM w3 ORDER BY start"""
  }

  /** q141 — greedy k-center coreset ([[graft.sim.KCenter]]): 6 centers
    * over the first 4 embedding dims by farthest-point traversal — the
    * diversity sample that covers the space where random sampling
    * oversamples dense regions. Oracle: the greedy steps unrolled as
    * argmax CTEs over the identical integer distances. */
  private val kcK = 6

  private val q141: Q = (s, dir) => {
    val pts = Tables.embeddings(s, dir).select(col("vec_id").as("id"),
      expr("transform(slice(embedding, 1, 4), e -> cast(floor(cast(e as double) * 1000) as long))").as("x"))
    graft.sim.KCenter.select(pts, k = kcK, dims = 4)
      .select(col("rank").as("sel_rank"), col("id"), col("d2"))
      .orderBy(col("sel_rank"))
  }

  private val q141Sql: String = {
    val dims = 1 to 4
    val xCols = dims.map(i =>
      s"CAST(floor(CAST(embedding[$i] AS DOUBLE) * 1000) AS BIGINT) AS x$i").mkString(", ")
    def dist(a: String, b: String) = dims.map(i =>
      s"($a.x$i - $b.x$i) * ($a.x$i - $b.x$i)").mkString(" + ")
    // each d{r} EXCLUDES the just-chosen center — mirrors the engine's
    // pool anti-join (KCenter.scala), so duplicate embeddings surface the
    // remaining co-located points at d2=0 instead of re-picking a center
    val steps = (2 to kcK).map { r =>
      s"""c$r AS (SELECT * FROM d${r - 1} ORDER BY dmin DESC, vec_id ASC LIMIT 1),
         d$r AS (SELECT d.vec_id, ${dims.map(i => s"d.x$i").mkString(", ")},
                        least(d.dmin, ${dist("d", "c")}) AS dmin
                 FROM d${r - 1} d CROSS JOIN c$r c WHERE d.vec_id <> c.vec_id)"""
    }.mkString(",\n")
    val sel = (2 to kcK).map(r =>
      s"UNION ALL SELECT $r, vec_id, dmin FROM c$r").mkString("\n")
    s"""WITH p AS (SELECT vec_id, $xCols FROM embeddings),
       c1 AS (SELECT * FROM p ORDER BY vec_id LIMIT 1),
       d1 AS (SELECT p.vec_id, ${dims.map(i => s"p.x$i").mkString(", ")},
                     ${dist("p", "c")} AS dmin
              FROM p CROSS JOIN c1 c WHERE p.vec_id <> c.vec_id),
       $steps,
       sel(sel_rank, vec_id, d2) AS (
         SELECT 1, vec_id, CAST(0 AS BIGINT) FROM c1
         $sel)
       SELECT CAST(sel_rank AS INTEGER) AS sel_rank, vec_id AS id, CAST(d2 AS BIGINT) AS d2
       FROM sel ORDER BY sel_rank"""
  }

  /** q142 — degree assortativity of the (undirected) supply graph:
    * Pearson correlation of endpoint degrees over the symmetric edge
    * list, from exact integer sufficient statistics — one division and
    * one IEEE sqrt at the end. Negative r = hub-to-leaf wiring
    * (disassortative, the expected shape for a supply star schema). */
  private val q142: Q = (s, dir) => {
    val fwd = supplyWeightedEdges(s, dir).select(col("src"), col("dst"))
    val und = fwd.unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val deg = und.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val pairs = und
      .join(deg.select(col("node").as("src"), col("deg").as("dx")), Seq("src"))
      .join(deg.select(col("node").as("dst"), col("deg").as("dy")), Seq("dst"))
    val sums = pairs.agg(count(lit(1)).as("n"),
      sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
      sum(col("dx") * col("dy")).as("sxy"),
      sum(col("dx") * col("dx")).as("sxx"),
      sum(col("dy") * col("dy")).as("syy"))
    val varx = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val vary = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
    val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    sums.select(col("n").as("n_endpoints"),
      StableRound.tieStableRound(
        num / when(varx * vary <= 0, null).otherwise(sqrt(varx * vary)), 6)
        .as("assortativity"))
  }

  private val q142Sql = {
    val r = "CAST(n * sxy - sx * sy AS DOUBLE) / " +
      "CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE) <= 0 THEN NULL " +
      "ELSE sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)) END"
    s"""WITH ed AS (
         SELECT DISTINCT 'P:' || l_partkey AS src, 'S:' || l_suppkey AS dst
         FROM lineitem JOIN part ON l_partkey = p_partkey WHERE p_size <= 10
         UNION SELECT DISTINCT 'S:' || s_suppkey, 'N:' || s_nationkey FROM supplier
         UNION SELECT DISTINCT 'N:' || n_nationkey, 'R:' || n_regionkey FROM nation),
       und AS (SELECT src, dst FROM ed UNION SELECT dst, src FROM ed),
       deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY 1),
       pairs AS (SELECT a.deg AS dx, b.deg AS dy
                 FROM und JOIN deg a ON und.src = a.node JOIN deg b ON und.dst = b.node),
       s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
                    CAST(sum(dx * dy) AS BIGINT) AS sxy,
                    CAST(sum(dx * dx) AS BIGINT) AS sxx,
                    CAST(sum(dy * dy) AS BIGINT) AS syy
             FROM pairs)
       SELECT n AS n_endpoints, ${StableRound.sql(r, 6)} AS assortativity FROM s"""
  }

  /** q143 — dedup audit report: the q41 near-dup clustering re-read as
    * OBSERVABILITY — per cluster size, how many clusters exist and how
    * many characters dropping non-canonical members saves. The report a
    * corpus owner reads before committing to a dedup pass (one giant
    * cluster and many pairs are very different corpora with the same
    * pair count). Oracle: the recursive-closure components + the same
    * histogram. */
  private val q143: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val pairs = graft.dedup.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleN = 3, minJaccard = 0.1, dfCap = 100)
    val canon = graft.dedup.Components.canonicalize(
      docs.select(col("doc_id").as("id")), pairs)
    val sized = canon.join(docs.select(col("doc_id").as("id"), col("n_chars")), Seq("id"))
      .groupBy(col("canonical_id"))
      .agg(count(lit(1)).as("cluster_size"),
        sum(when(col("is_duplicate"), col("n_chars")).otherwise(0L)).as("chars_dropped"))
    sized.groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("chars_dropped")).as("chars_dropped"))
      .orderBy(col("cluster_size"))
  }

  private val q143Sql =
    """WITH RECURSIVE
       docs AS (
         SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ')
                 FOR i IN range(1, greatest(len(w) - 1, 1))]) AS shingles
         FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
               FROM documents WHERE length(trim(text)) > 0)),
       sized AS (SELECT doc_id, shingles, len(shingles) AS n_shingles
                 FROM docs WHERE len(shingles) > 0),
       inverted AS (SELECT doc_id, n_shingles, unnest(shingles) AS shingle FROM sized),
       hot AS (SELECT shingle FROM inverted GROUP BY shingle HAVING count(*) > 100),
       cold AS (SELECT * FROM inverted WHERE shingle NOT IN (SELECT shingle FROM hot)),
       pairs AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b
         FROM cold a JOIN cold b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         GROUP BY a.doc_id, b.doc_id
         HAVING """ + StableRound.sql(
      "CAST(count(*) AS DOUBLE) / (any_value(a.n_shingles) + any_value(b.n_shingles) - count(*))", 4) +
      """ >= 0.1),
       und AS (SELECT id_a AS s, id_b AS d FROM pairs UNION SELECT id_b, id_a FROM pairs),
       reach AS (SELECT s AS root, s AS node FROM und
                 UNION SELECT r.root, u.d FROM reach r JOIN und u ON r.node = u.s),
       comp AS (SELECT node, min(root) AS canonical FROM reach GROUP BY node),
       canon AS (SELECT d.doc_id, coalesce(c.canonical, d.doc_id) AS canonical_id,
                        d.n_chars
                 FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
       clusters AS (SELECT canonical_id, CAST(count(*) AS BIGINT) AS cluster_size,
                           CAST(sum(CASE WHEN doc_id != canonical_id
                                    THEN n_chars ELSE 0 END) AS BIGINT) AS chars_dropped
                    FROM canon GROUP BY canonical_id)
       SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
              CAST(sum(chars_dropped) AS BIGINT) AS chars_dropped
       FROM clusters GROUP BY cluster_size ORDER BY cluster_size"""

  /** q144 — l-diversity audit (companion to q99's k-anonymity): per
    * quasi-identifier class (nation, market segment), the count of
    * DISTINCT sensitive values (account-balance bands) — a class can be
    * k-anonymous yet still leak when every member shares one sensitive
    * value (Machanavajjhala et al., ICDE 2006). weak = fewer than 2
    * bands. One aggregation, exact integers. */
  private val q144: Q = (s, dir) =>
    Tables.customer(s, dir)
      .withColumn("band", floor(col("c_acctbal") / 1000.0).cast("long"))
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("class_size"),
        count_distinct(col("band")).as("l_distinct"))
      .withColumn("weak", col("l_distinct") < 2)
      .orderBy(col("c_nationkey"), col("c_mktsegment"))

  private val q144Sql =
    """SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS class_size,
              CAST(count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT)) AS BIGINT) AS l_distinct,
              count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT)) < 2 AS weak
       FROM customer GROUP BY 1, 2 ORDER BY 1, 2"""

  val defs: Map[String, Q] = Map(
    "q124_sssp"           -> q124,
    "q125_prefix_join"    -> q125,
    "q126_kmeans"         -> q126,
    "q127_dbscan"         -> q127,
    "q128_delta_neardup"  -> q128,
    "q129_phrase_search"  -> q129,
    "q130_sole_late_supplier" -> q130,
    "q131_quality_checks" -> q131,
    "q132_grouped_ols"    -> q132,
    "q133_binary_metrics" -> q133,
    "q134_source_overlap" -> q134,
    "q135_embedding_diag" -> q135,
    "q136_walk_sampling"  -> q136,
    "q141_kcenter"        -> q141,
    "q142_assortativity"  -> q142,
    "q143_dedup_audit"    -> q143,
    "q144_l_diversity"    -> q144)

  val oracles: Map[String, String] = Map(
    "q124_sssp"           -> q124Sql,
    "q125_prefix_join"    -> q125Sql,
    "q126_kmeans"         -> q126Sql,
    "q127_dbscan"         -> q127Sql,
    "q128_delta_neardup"  -> q128Sql,
    "q129_phrase_search"  -> q129Sql,
    "q130_sole_late_supplier" -> q130Sql,
    "q131_quality_checks" -> q131Sql,
    "q132_grouped_ols"    -> q132Sql,
    "q133_binary_metrics" -> q133Sql,
    "q134_source_overlap" -> q134Sql,
    "q135_embedding_diag" -> q135Sql,
    "q136_walk_sampling"  -> q136Sql,
    "q141_kcenter"        -> q141Sql,
    "q142_assortativity"  -> q142Sql,
    "q143_dedup_audit"    -> q143Sql,
    "q144_l_diversity"    -> q144Sql)
}
