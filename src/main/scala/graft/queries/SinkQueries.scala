package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.{GraphCsvSink, KgxIO}
import graft.parsers.DrugCentral
import graft.sources.SqlSource

/** Sink-plane and pipeline-composition oracles: each query WRITES a real
  * artifact through a production sink (Neo4j/Memgraph CSV, KGX jsonl.gz
  * bundle, JDBC-staged parquet, the curate CLI's partitioned layout) and
  * the DuckDB oracle reads that artifact back with an INDEPENDENT parser
  * (`read_csv` / `read_json_auto` / `read_parquet`) — so the bytes on
  * disk, not just the in-memory DataFrame, sit behind the hash-exact
  * gate. The Spark side returns the expected content re-derived from the
  * ORIGINAL inputs by the documented sink semantics (ref
  * orion/kgx_file_converter.py:151-376, orion/kgx_bundle.py:75-102), so
  * an asymmetric writer bug (malformed TSV, wrong delimiter, dropped
  * partition) lands as a DuckDB-vs-Spark mismatch.
  *
  * Artifacts land under `target/sink-oracle` (inside the repo's build
  * dir, absolute-resolved at class-load like the parser fixtures) so the
  * statically-embedded oracle SQL can find them after Verify has run.
  */
object SinkQueries {

  type Q = (SparkSession, String) => DataFrame

  private val kgxRes = sys.env.getOrElse("SPARK_GRAFT_KGX_FIXTURES",
    new java.io.File("src/test/resources/kgx").getAbsolutePath)

  private val sinkOut = sys.env.getOrElse("SPARK_GRAFT_SINK_OUT",
    new java.io.File("target/sink-oracle").getAbsolutePath)

  private val US = "\u001f" // the reference's array delimiter (ref :316)

  /** Fixed-projection node/edge frames off the KGX fixture — explicit
    * select so the CSV column ORDER (and so the oracle's `names=[...]`)
    * is pinned, not schema-inference-order dependent. */
  private def kgxNodes(s: SparkSession): DataFrame =
    KgxIO.readJsonl(s, Seq(s"$kgxRes/sample_nodes.jsonl"))
      .select("id", "name", "category", "in_taxon", "information_content", "synonym")

  private def kgxEdges(s: SparkSession): DataFrame =
    KgxIO.readJsonl(s, Seq(s"$kgxRes/sample_edges.jsonl.gz"))
      .select("subject", "predicate", "object", "p_value", "publications",
        "primary_knowledge_source")

  // ---------------------------------------------------------------- q151
  /** K3 — Neo4j nodes CSV round-trip: write through the production sink,
    * oracle = DuckDB `read_csv` over the part files (independent TSV
    * parser); Spark side = the expected cells re-derived from the source
    * jsonl per the documented semantics (U+001F arrays, null name → id,
    * numeric→string, null→empty→NULL). */
  private val q151: Q = (s, _) => {
    val nodes = kgxNodes(s)
    GraphCsvSink.writeNeo4jNodes(nodes, s"$sinkOut/q151/nodes")
    nodes.select(
      col("id"),
      regexp_replace(coalesce(col("name"), col("id")), "[\\n\\r\\t]+", " ").as("name"),
      array_join(col("category"), US).as("category"),
      col("in_taxon"),
      col("information_content").cast("string").as("information_content"),
      array_join(col("synonym"), US).as("synonym"))
      .orderBy("id")
  }

  private val q151Sql =
    s"""SELECT id, name, category, in_taxon, information_content, synonym
       FROM read_csv('$sinkOut/q151/nodes/part-*.csv', delim='\t', header=false,
                     all_varchar=true,
                     names=['id','name','category','in_taxon','information_content','synonym'])
       ORDER BY id"""

  // ---------------------------------------------------------------- q152
  /** K3 — the TYPED HEADER sidecars (`id:ID`, `category:LABEL`,
    * `synonym:string[]`, `subject:START_ID`, ... — ref :316-322): Spark
    * reads back the `_header.csv` files the sink wrote; the oracle is the
    * hand-pinned expectation for the fixed fixture schema. */
  private val q152: Q = (s, _) => {
    GraphCsvSink.writeNeo4jNodes(kgxNodes(s), s"$sinkOut/q152/nodes")
    GraphCsvSink.writeNeo4jEdges(kgxEdges(s), s"$sinkOut/q152/edges")
    // the sidecar starts with '_' so Hadoop input formats treat it as
    // hidden metadata — read it with plain file IO (it is one line)
    def headerRows(side: String): Seq[(String, Long, String)] =
      java.nio.file.Files.readString(
          java.nio.file.Paths.get(s"$sinkOut/q152/$side/_header.csv"))
        .stripLineEnd.split("\t", -1).toSeq.zipWithIndex
        .map { case (f, i) => (side, (i + 1).toLong, f) }
    import s.implicits._
    (headerRows("nodes") ++ headerRows("edges"))
      .toDF("side", "pos", "field")
      .orderBy("side", "pos")
  }

  private val q152Sql =
    """SELECT side, CAST(pos AS BIGINT) AS pos, field FROM (VALUES
         ('nodes', 1, 'id:ID'), ('nodes', 2, 'name:string'),
         ('nodes', 3, 'category:LABEL'), ('nodes', 4, 'in_taxon:string'),
         ('nodes', 5, 'information_content:float'), ('nodes', 6, 'synonym:string[]'),
         ('edges', 1, 'subject:START_ID'), ('edges', 2, 'predicate:TYPE'),
         ('edges', 3, 'object:END_ID'), ('edges', 4, 'p_value:float'),
         ('edges', 5, 'publications:string[]'),
         ('edges', 6, 'primary_knowledge_source:string')) t(side, pos, field)
       ORDER BY side, pos"""

  // ---------------------------------------------------------------- q153
  /** K4 — Memgraph per-predicate edge split (ref :26-148 per-predicate
    * file handles → `partitionBy`): DuckDB reads the hive-partitioned
    * layout back with `hive_partitioning` — so the SPLIT itself (which
    * directory each edge landed in), not just the cells, is under the
    * hash. */
  private val q153: Q = (s, _) => {
    val edges = kgxEdges(s)
    GraphCsvSink.writeMemgraphEdges(edges, s"$sinkOut/q153/edges")
    edges.select(
      col("subject"), col("predicate"), col("object"),
      col("p_value").cast("string").as("p_value"),
      array_join(col("publications"), US).as("publications"),
      col("primary_knowledge_source"),
      regexp_replace(col("predicate"), ":", "_").as("predicate_dir"))
      .orderBy("subject", "predicate", "object")
  }

  private val q153Sql =
    s"""SELECT subject, predicate, object, p_value, publications,
              primary_knowledge_source, _predicate_dir AS predicate_dir
       FROM read_csv('$sinkOut/q153/edges/*/part-*.csv', delim='\t', header=false,
                     all_varchar=true, hive_partitioning=true,
                     names=['subject','predicate','object','p_value','publications','primary_knowledge_source'])
       ORDER BY subject, predicate, object"""

  // ---------------------------------------------------------------- q154
  /** K2 — single-file KGX jsonl.gz bundle (ref orion/kgx_bundle.py:75-102):
    * written by the production `writeSingleFile` (coalesce(1) + rename),
    * read back by DuckDB's `read_json_auto` with gz transparency — the
    * json encoding, null-field omission, and gzip framing all round-trip. */
  private val q154: Q = (s, _) => {
    val edges = kgxEdges(s)
    new java.io.File(s"$sinkOut/q154").mkdirs()
    KgxIO.writeSingleFile(edges, s"$sinkOut/q154/edges.jsonl.gz")
    edges.select(
      col("subject"), col("predicate"), col("object"),
      coalesce(col("p_value"), lit(-1.0)).as("p_value"),
      when(col("publications").isNull, lit(0L))
        .otherwise(size(col("publications")).cast("long")).as("n_pubs"),
      col("primary_knowledge_source"))
      .orderBy("subject", "predicate", "object")
  }

  private val q154Sql =
    s"""SELECT subject, predicate, object,
              CAST(coalesce(p_value, -1.0) AS DOUBLE) AS p_value,
              CAST(CASE WHEN publications IS NULL THEN 0
                   ELSE len(publications) END AS BIGINT) AS n_pubs,
              primary_knowledge_source
       FROM read_json_auto('$sinkOut/q154/edges.jsonl.gz')
       ORDER BY subject, predicate, object"""

  // ---------------------------------------------------------------- q155
  /** S4 — the real `spark.read.jdbc` path under the hash gate, by
    * staging: an embedded-Derby DrugCentral fixture is read through
    * `SqlSource.readQuery` (raw tables staged to parquet for the oracle)
    * and parsed by the production [[DrugCentral]] loader (ref
    * parsers/drugcentral/src/loaddrugcentral.py:70-213); DuckDB
    * RE-DERIVES the edges from the staged raw tables with the predicate /
    * knowledge-source CASE maps generated from the same Scala constants
    * (the q59 pattern), so the parse semantics — omop relationship map,
    * excluded-sty filter, FAERS llr/drug_ae gates, snakified DGIDB
    * predicate routing, literature-URL→PMID — are independently checked,
    * not just round-tripped. */
  /** One embedded-Derby database per JVM: the bench re-runs q155 several
    * times per round, and a fresh boot + temp dir per invocation would
    * accumulate live Derby instances in the driver. The fixture is
    * read-only after seeding, so a memoized URL is exactly equivalent. */
  private lazy val drugCentralUrl: String = seedDrugCentral()

  private def seedDrugCentral(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-q155-derby-").toString
    val url = s"jdbc:derby:$dir/dcdb;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("""CREATE TABLE omop_relationship (
        struct_id INT, relationship_name VARCHAR(64), umls_cui VARCHAR(16), cui_semantic_type VARCHAR(8))""")
      Seq(
        "(5, 'indication', 'C0011849', 'T047')",
        "(5, 'contraindication', 'C0020538', NULL)",
        "(6, 'indication', 'C0002871', 'T121')", // excluded semantic type
        "(6, 'indication', NULL, NULL)", // null cui — dropped in the pushed SQL
        "(7, 'off-label use', 'C0004096', 'T047')",
        "(7, 'reduce risk', 'C0027051', 'T047')",
        "(8, 'diagnosis', 'C0011860', 'T047')",
        "(8, 'symptomatic treatment', 'C0018681', 'T184')"
      ).foreach(v => st.execute(s"INSERT INTO omop_relationship VALUES $v"))
      st.execute("""CREATE TABLE faers (
        struct_id INT, meddra_code VARCHAR(16), llr DOUBLE, llr_threshold DOUBLE, drug_ae INT)""")
      Seq(
        "(5, '10020772', 120.5, 100.0, 30)",
        "(5, '10021428', 90.0, 100.0, 30)", // llr below threshold — gated
        "(6, '10021428', 150.0, 100.0, 10)", // drug_ae <= 25 — gated
        "(7, '10012373', 200.25, 150.0, 26)"
      ).foreach(v => st.execute(s"INSERT INTO faers VALUES $v"))
      st.execute("""CREATE TABLE act_table_full (
        struct_id INT, act_value DOUBLE, act_unit VARCHAR(16), act_type VARCHAR(16),
        act_source VARCHAR(32), act_source_url VARCHAR(128), action_type VARCHAR(32), target_id INT)""")
      Seq(
        "(5, 7.2, NULL, 'IC50', 'CHEMBL', NULL, 'INHIBITOR', 1)",
        "(6, 8.1, NULL, 'Kd', 'SCIENTIFIC LITERATURE', 'http://www.ncbi.nlm.nih.gov/pubmed/12345', NULL, 1)",
        "(7, 6.5, NULL, 'EC50', 'IUPHAR', NULL, 'PARTIAL AGONIST', 2)", // snakify branch
        "(8, NULL, NULL, NULL, NULL, NULL, NULL, 2)" // both null → interacts_with
      ).foreach(v => st.execute(s"INSERT INTO act_table_full VALUES $v"))
      st.execute("CREATE TABLE td2tc (target_id INT, component_id INT)")
      st.execute("INSERT INTO td2tc VALUES (1, 11)")
      st.execute("INSERT INTO td2tc VALUES (2, 12)")
      st.execute("CREATE TABLE target_component (id INT, accession VARCHAR(16))")
      st.execute("INSERT INTO target_component VALUES (11, 'P00374')")
      st.execute("INSERT INTO target_component VALUES (12, 'Q9H2X3')")
      st.close()
    } finally conn.close()
    url
  }

  private val q155: Q = (s, _) => {
    val url = drugCentralUrl
    // stage the raw tables — each through a REAL spark.read.jdbc scan —
    // so the oracle can see what the database held
    Seq("omop_relationship", "faers", "act_table_full", "td2tc", "target_component")
      .foreach { t =>
        val raw = SqlSource.readQuery(s, url, s"SELECT * FROM $t")
        raw.columns.foldLeft(raw)((d, c) => d.withColumnRenamed(c, c.toLowerCase))
          .write.mode("overwrite").parquet(s"$sinkOut/q155/$t")
      }
    DrugCentral.parse(s, url).edges.select(
      col("subject"), col("predicate"), col("object"),
      col("primary_knowledge_source"),
      coalesce(col("FAERS_llr"), lit(-1.0)).as("faers_llr"),
      coalesce(col("affinity"), lit(-1.0)).as("affinity"),
      coalesce(col("affinity_parameter"), lit("")).as("affinity_parameter"),
      when(col("publications").isNull, lit(0L))
        .otherwise(size(col("publications")).cast("long")).as("n_pubs"),
      when(col("aggregator_knowledge_source").isNull, lit(0L))
        .otherwise(size(col("aggregator_knowledge_source")).cast("long")).as("n_aggs"))
      .orderBy("subject", "predicate", "object")
  }

  private val q155Sql = {
    val omopCases = DrugCentral.omopRelationMap.toSeq.sortBy(_._1)
      .map { case (k, v) => s"WHEN '$k' THEN '$v'" }.mkString(" ")
    val excluded = DrugCentral.excludedStys.map(s => s"'$s'").mkString(", ")
    val dgidbCases = DrugCentral.dgidbPredicateMapping.toSeq.sortBy(_._1)
      .map { case (k, v) => s"WHEN '$k' THEN '$v'" }.mkString(" ")
    val pksCases = DrugCentral.actTypeToKnowledgeSource.toSeq.sortBy(_._1)
      .map { case (k, v) => s"WHEN '$k' THEN '$v'" }.mkString(" ")
    val p = s"$sinkOut/q155"
    s"""WITH omop AS (SELECT * FROM read_parquet('$p/omop_relationship/*.parquet')),
       faers AS (SELECT * FROM read_parquet('$p/faers/*.parquet')),
       act AS (SELECT * FROM read_parquet('$p/act_table_full/*.parquet')),
       td AS (SELECT * FROM read_parquet('$p/td2tc/*.parquet')),
       tc AS (SELECT * FROM read_parquet('$p/target_component/*.parquet')),
       omop_edges AS (
         SELECT 'DrugCentral:' || CAST(struct_id AS VARCHAR) AS subject,
                CASE relationship_name $omopCases END AS predicate,
                'UMLS:' || umls_cui AS object,
                'infores:drugcentral' AS primary_knowledge_source,
                -1.0 AS faers_llr, -1.0 AS affinity, '' AS affinity_parameter,
                CAST(0 AS BIGINT) AS n_pubs, CAST(0 AS BIGINT) AS n_aggs
         FROM omop
         WHERE umls_cui IS NOT NULL
           AND (cui_semantic_type IS NULL OR cui_semantic_type NOT IN ($excluded))),
       faers_edges AS (
         SELECT 'DrugCentral:' || CAST(struct_id AS VARCHAR) AS subject,
                'biolink:has_adverse_event' AS predicate,
                'MEDDRA:' || meddra_code AS object,
                'infores:faers' AS primary_knowledge_source,
                llr AS faers_llr, -1.0 AS affinity, '' AS affinity_parameter,
                CAST(0 AS BIGINT) AS n_pubs, CAST(1 AS BIGINT) AS n_aggs
         FROM faers WHERE llr > llr_threshold AND drug_ae > 25),
       bio AS (
         SELECT a.*, tc.accession,
                regexp_replace(regexp_replace(lower(coalesce(
                  nullif(a.action_type, ''), nullif(a.act_type, ''), 'interacts_with')),
                  '[,-]', '_', 'g'), '\\s+', '_', 'g') AS snake,
                CASE a.act_source $pksCases END AS src_pks
         FROM act a JOIN td ON a.target_id = td.target_id
                    JOIN tc ON td.component_id = tc.id),
       bio_edges AS (
         SELECT 'DrugCentral:' || CAST(struct_id AS VARCHAR) AS subject,
                CASE snake $dgidbCases END AS predicate,
                'UniProtKB:' || accession AS object,
                coalesce(src_pks, 'infores:drugcentral') AS primary_knowledge_source,
                -1.0 AS faers_llr,
                coalesce(CASE WHEN act_type IS NOT NULL THEN act_value END, -1.0) AS affinity,
                CASE WHEN act_type IS NOT NULL THEN 'p' || act_type ELSE '' END AS affinity_parameter,
                CAST(CASE WHEN act_source = 'SCIENTIFIC LITERATURE'
                          AND act_source_url LIKE 'http://www.ncbi.nlm.nih.gov/pubmed%'
                     THEN 1 ELSE 0 END AS BIGINT) AS n_pubs,
                CAST(CASE WHEN src_pks IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS n_aggs
         FROM bio)
       SELECT * FROM (SELECT * FROM omop_edges UNION ALL
                      SELECT * FROM faers_edges UNION ALL
                      SELECT * FROM bio_edges)
       ORDER BY subject, predicate, object"""
  }

  // ---------------------------------------------------------------- q156
  /** O6 — the curate CLI's COMPOSED artifact: `Cli curate` runs the full
    * front door (quality + hashed classifier + language-ID + token count
    * + PII redact + hash split + shuffle-shard) and writes the
    * (split, shard)-partitioned training layout; the Spark side reads
    * that written artifact back, and DuckDB recomputes every column from
    * `documents` — so the composition (including the partitioned write
    * and the content-addressed shard/seq assignment) is end-to-end under
    * one hash. */
  private val q156: Q = (s, dir) => {
    val out = s"$sinkOut/q156/curated"
    graft.Cli.run(s, Array("curate", s"$dir/documents.parquet", out))
    s.read.parquet(out)
      .select(col("doc_id"), col("split"), col("shard").cast("int").as("shard"),
        col("seq"), col("quality"),
        coalesce(col("clf_score"), lit(-99.0)).as("clf_score"),
        col("detected_lang"), col("n_tokens"))
      .orderBy("doc_id")
  }

  private val q156Sql = {
    val stop = graft.text.TextOps.englishStopwords.mkString("|")
    def hits(words: Seq[String]) =
      s"len(regexp_extract_all(lower(text), '\\b(${words.mkString("|")})\\b'))"
    val en = hits(graft.text.TextOps.englishStopwords)
    val es = hits(graft.text.TextOps.spanishStopwords)
    val de = hits(graft.text.TextOps.germanStopwords)
    val fr = hits(graft.text.TextOps.frenchStopwords)
    val qualityRounded = graft.functions.StableRound.sql(
      """0.4 * least(ntok / 50.0, 1.0)
           + 0.3 * (1.0 - least(npunct / greatest(length(text), 1), 1.0))
           + 0.3 * least(nstop / greatest(ntok, 1.0), 1.0)""", 4)
    val clfRounded = graft.functions.StableRound.sql(
      "CAST(raw_weight AS DOUBLE) / (n_features * 2147483648.0)", 6)
    s"""WITH d AS (SELECT doc_id, text FROM documents),
       tok AS (SELECT doc_id,
                 CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tokens
               FROM d),
       q AS (SELECT doc_id, $qualityRounded AS quality FROM (
               SELECT doc_id, text,
                 CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(string_split_regex(trim(text), '\\s+')) END AS DOUBLE) AS ntok,
                 CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) AS npunct,
                 CAST(len(regexp_extract_all(lower(text), '\\b($stop)\\b')) AS DOUBLE) AS nstop
               FROM d)),
       lang AS (SELECT doc_id,
                  CASE WHEN greatest(en, es, de, fr) = 0 THEN 'und'
                       WHEN en = greatest(en, es, de, fr) THEN 'en'
                       WHEN es = greatest(en, es, de, fr) THEN 'es'
                       WHEN de = greatest(en, es, de, fr) THEN 'de'
                       ELSE 'fr' END AS detected_lang
                FROM (SELECT doc_id, $en AS en, $es AS es, $de AS de, $fr AS fr, text FROM d)),
       cw AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'),
                                         x -> length(x) > 0) AS w
              FROM d WHERE length(trim(text)) > 0),
       ct AS (SELECT doc_id, w[i] AS tokn,
                     CASE WHEN i < len(w) THEN w[i+1] END AS nxt
              FROM cw, unnest(range(1, len(w)+1)) AS u(i)),
       cf AS (SELECT doc_id, tokn AS feat FROM ct
              UNION ALL
              SELECT doc_id, tokn || '_' || nxt FROM ct WHERE nxt IS NOT NULL),
       cs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_features,
                     CAST(sum(CAST('0x' || substr(md5(feat), 1, 8) AS BIGINT)
                              - 2147483648) AS BIGINT) AS raw_weight
              FROM cf GROUP BY 1),
       clf AS (SELECT doc_id, $clfRounded AS clf_score FROM cs),
       ss AS (SELECT doc_id,
                CASE WHEN strpos('0123456789abc', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) > 0
                     THEN 'train' ELSE 'val' END AS split,
                CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 8 AS INT) AS shard,
                md5(CAST(doc_id AS VARCHAR)) AS h
              FROM d)
       SELECT d.doc_id, ss.split, ss.shard,
              CAST(row_number() OVER (PARTITION BY ss.shard ORDER BY ss.h, d.doc_id) AS BIGINT) AS seq,
              q.quality, coalesce(clf.clf_score, -99.0) AS clf_score,
              lang.detected_lang, tok.n_tokens
       FROM d JOIN ss USING (doc_id) JOIN q USING (doc_id)
              JOIN lang USING (doc_id) JOIN tok USING (doc_id)
              LEFT JOIN clf USING (doc_id)
       ORDER BY doc_id"""
  }

  // ---------------------------------------------------------------- q157
  /** K5 — the bundle's JSON sidecars (graph-metadata.json, qc-results.json
    * — ref orion/graph_pipeline.py:445-532, orion/kgx_validation.py:25-213):
    * `finalizeBundle` writes the full bundle, DuckDB reads the sidecar
    * FILES back with `read_json_auto` (struct-field access on the
    * statically-known fixture keys), and the Spark side re-derives the
    * expected (metric, k, value) rows from the input frames + spec — so
    * the driver-side JSON serialization itself sits behind the hash. */
  private val q157: Q = (s, _) => {
    val nodes = KgxIO.readJsonl(s, Seq(s"$kgxRes/sample_nodes.jsonl"))
    val edges = KgxIO.readJsonl(s, Seq(s"$kgxRes/sample_edges.jsonl.gz"))
    val spec = graft.pipeline.GraphSpec(
      graphId = "sink-oracle-graph", graphName = "Sink Oracle Graph",
      sources = Seq(graft.pipeline.GraphSource("kgx_fixture",
        sourceVersion = Some("v1"), parsingVersion = Some("1.0"),
        normalizationVersion = Some("1.0"))))
    graft.pipeline.GraphBundle.finalizeBundle(spec, nodes, edges, s"$sinkOut/q157/bundle")
    val (qc, _) = graft.derive.BundleStats(nodes, edges)
    val buildVersion = graft.pipeline.Versioning.graphBuildVersion(
      Seq(graft.pipeline.Versioning.sourceBuildVersion("kgx_fixture", "v1", "1.0", "1.0")))
    val rows: Seq[(String, String, Long)] =
      Seq(("meta_graph_id", spec.graphId, 0L),
        ("meta_build_version", buildVersion, 0L),
        ("meta_node_count", "", qc.nodeCount),
        ("meta_edge_count", "", qc.edgeCount),
        ("qc_node_count", "", qc.nodeCount),
        ("qc_edge_count", "", qc.edgeCount),
        ("qc_edges_missing_nodes", "", qc.edgesMissingNodes),
        ("qc_warnings_n", "", qc.warnings.size.toLong)) ++
      qc.nodeTypeCounts.toSeq.sorted.map { case (k, v) => ("node_type_count", k, v) } ++
      qc.predicateCounts.toSeq.sorted.map { case (k, v) => ("predicate_count", k, v) } ++
      qc.primaryKsCounts.toSeq.sorted.map { case (k, v) => ("pks_count", k, v) }
    import s.implicits._
    rows.toDF("metric", "k", "value").orderBy("metric", "k")
  }

  private val q157Sql = {
    val p = s"$sinkOut/q157/bundle"
    s"""WITH m AS (SELECT * FROM read_json_auto('$p/graph-metadata.json')),
       qc AS (SELECT * FROM read_json_auto('$p/qc-results.json'))
       SELECT metric, k, CAST(value AS BIGINT) AS value FROM (
         SELECT 'meta_graph_id' AS metric, graph_id AS k, 0 AS value FROM m
         UNION ALL SELECT 'meta_build_version', build_version, 0 FROM m
         UNION ALL SELECT 'meta_node_count', '', node_count FROM m
         UNION ALL SELECT 'meta_edge_count', '', edge_count FROM m
         UNION ALL SELECT 'qc_node_count', '', node_count FROM qc
         UNION ALL SELECT 'qc_edge_count', '', edge_count FROM qc
         UNION ALL SELECT 'qc_edges_missing_nodes', '', edges_missing_nodes FROM qc
         UNION ALL SELECT 'qc_warnings_n', '', len(warnings) FROM qc
         UNION ALL SELECT 'node_type_count', 'biolink:Gene',
                          qc.node_type_counts."biolink:Gene" FROM qc
         UNION ALL SELECT 'node_type_count', 'biolink:NamedThing',
                          qc.node_type_counts."biolink:NamedThing" FROM qc
         UNION ALL SELECT 'predicate_count', 'biolink:affects',
                          qc.predicate_counts."biolink:affects" FROM qc
         UNION ALL SELECT 'predicate_count', 'biolink:related_to',
                          qc.predicate_counts."biolink:related_to" FROM qc
         UNION ALL SELECT 'pks_count', 'infores:example',
                          qc.primary_knowledge_source_counts."infores:example" FROM qc)
       ORDER BY metric, k"""
  }

  // ---------------------------------------------------------------- q158
  /** D7 — the plater-style `neo4j_generated_meta_kg.json` (ref
    * orion/neo4j_meta_kg.py:17-195): `generate` writes the file, DuckDB
    * unnests its edges array and the per-type id_prefixes structs back
    * out, and the Spark side re-derives the expectation through the
    * production schema/augmentation path — so the inverse-predicate
    * augmentation AND its JSON serialization sit behind the hash. The
    * fixture's own categories leave all but four nodes NamedThing-only
    * (which the D7 filter drops), so nodes are re-typed by id parity:
    * even → Gene, odd → Disease, giving a 2-triple direct schema plus
    * derived inverses. */
  private val q158: Q = (s, _) => {
    val nodes = KgxIO.readJsonl(s, Seq(s"$kgxRes/sample_nodes.jsonl"))
      .select(col("id"), col("name"),
        when(substring(col("id"), -1, 1).cast("int") % 2 === 0,
          array(lit("biolink:NamedThing"), lit("biolink:Gene")))
          .otherwise(array(lit("biolink:NamedThing"), lit("biolink:Disease")))
          .as("category"))
    val edges = kgxEdges(s)
    graft.derive.Neo4jMetaKg.generate(nodes, edges, s"$sinkOut/q158/metakg")
    val schema = graft.derive.Neo4jMetaKg.augmentedSchema(
      graft.derive.Neo4jMetaKg.schemaTriples(nodes, edges).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq)
    val prefixRows = graft.derive.Neo4jMetaKg.nodeTypeInfo(nodes).collect()
      .flatMap(r => r.getSeq[String](r.fieldIndex("id_prefixes"))
        .map(p => ("node_prefix", r.getAs[String]("node_type"), p, "")))
    import s.implicits._
    (schema.map(e => ("edge", e.subject, e.predicate, e.obj)) ++ prefixRows)
      .toDF("kind", "a", "b", "c")
      .orderBy("kind", "a", "b", "c")
  }

  private val q158Sql = {
    val p = s"$sinkOut/q158/metakg/neo4j_generated_meta_kg.json"
    s"""WITH m AS (SELECT * FROM read_json_auto('$p')),
       e AS (SELECT unnest(edges) AS ed FROM m)
       SELECT kind, a, b, c FROM (
         SELECT 'edge' AS kind, ed.subject AS a, ed.predicate AS b, ed.object AS c FROM e
         UNION ALL
         SELECT 'node_prefix', 'biolink:Disease', p, ''
         FROM (SELECT unnest((SELECT (nodes)."biolink:Disease".id_prefixes FROM m)) AS p)
         UNION ALL
         SELECT 'node_prefix', 'biolink:Gene', p, ''
         FROM (SELECT unnest((SELECT (nodes)."biolink:Gene".id_prefixes FROM m)) AS p))
       ORDER BY kind, a, b, c"""
  }

  // ---------------------------------------------------------------- q159
  /** O1/O3 — the ingest state machine's memo sidecar and content-hash
    * versioning (ref orion/ingest_pipeline.py:54-181, orion/metadata.py:
    * 8-14,228-239): one fixture source runs parse → normalize (one
    * planted node-norm failure) → supplementation through
    * `IngestPipeline.runSource` TWICE — the first run writes
    * `<source>.meta.json` under the content-hash version directory
    * (DuckDB reads it back and unnests the stage records), the second
    * must hit the `_BUILD_COMPLETE` cache and record a single `cached`
    * stage. The version-dir path in the oracle SQL is the SAME
    * deterministic `Versioning.sourceBuildVersion` hash, computed
    * independently at class load. */
  private def q159Loader: graft.pipeline.IngestPipeline.SourceLoader =
    new graft.pipeline.IngestPipeline.SourceLoader {
      val sourceId = "kgx_fixture"
      def parse(s: SparkSession): (DataFrame, DataFrame) =
        (KgxIO.readJsonl(s, Seq(s"$kgxRes/sample_nodes.jsonl")),
          KgxIO.readJsonl(s, Seq(s"$kgxRes/sample_edges.jsonl.gz")))
      // EX:011 is deliberately unmapped -> exactly one strict-mode failure
      override def nodeNormMap(s: SparkSession) =
        Some(graft.normalize.Normalizer.nodeMapDf(s, (0 to 10).map(i =>
          graft.normalize.Normalizer.NodeNormEntry(
            f"EX:$i%03d", f"NORM:$i%03d", s"normed $i"))))
      override def predicateNormMap(s: SparkSession) =
        Some(graft.normalize.Normalizer.predicateMapDf(s, Seq(
          graft.normalize.Normalizer.PredicateNormEntry("biolink:affects", "biolink:affects"),
          graft.normalize.Normalizer.PredicateNormEntry("biolink:related_to", "biolink:related_to"))))
    }

  private val q159Version =
    graft.pipeline.Versioning.sourceBuildVersion("kgx_fixture", "fixture", "1.0", "1.0")

  private val q159: Q = (s, _) => {
    val storage = s"$sinkOut/q159/storage"
    // fresh state machine every invocation (bench re-runs the query): a
    // leftover _BUILD_COMPLETE would flip run 1 to the cached path
    def rm(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p)) {
        val children = java.nio.file.Files.list(p)
        try children.forEach(rm(_)) finally children.close()
      }
      java.nio.file.Files.deleteIfExists(p)
    }
    rm(java.nio.file.Paths.get(storage))
    val r1 = graft.pipeline.IngestPipeline.runSource(s, q159Loader, storage)
    val r2 = graft.pipeline.IngestPipeline.runSource(s, q159Loader, storage)
    import s.implicits._
    ((("meta", "source_id", r1.sourceId) +:
      ("meta", "build_version", r1.buildVersion) +:
      r1.stages.map(st => ("run1", st.stage, st.status + "|" + st.detail))) ++
      r2.stages.map(st => ("run2", st.stage, st.status + "|" + st.detail)))
      .toDF("run", "stage", "detail")
      .orderBy("run", "stage", "detail")
  }

  private val q159Sql = {
    val dir = s"$sinkOut/q159/storage/kgx_fixture/$q159Version"
    s"""WITH m AS (SELECT * FROM read_json_auto('$dir/kgx_fixture.meta.json')),
       st AS (SELECT unnest(stages) AS s FROM m)
       SELECT run, stage, detail FROM (
         SELECT 'meta' AS run, 'source_id' AS stage, source_id AS detail FROM m
         UNION ALL SELECT 'meta', 'build_version', build_version FROM m
         UNION ALL SELECT 'run1', s.stage, s.status || '|' || s.detail FROM st
         UNION ALL SELECT 'run2', 'cached', 'stable|reused $dir')
       ORDER BY run, stage, detail"""
  }

  // ---------------------------------------------------------------- q161
  /** D5 — the SnpEff supplementation loop END-TO-END behind the hash gate
    * (ref orion/supplementation.py:85-154): fixture variant nodes →
    * `Vcf.supplement` (writes `variants.vcf` through the production
    * writer, drives the CommandRunner seam with a deterministic fake
    * SnpEff that READS the written file and annotates every data row on
    * stdout — the reference's exact redirect shape — then writes
    * `variants_ann.vcf` and scans it back distributed) → variant→gene
    * KGX edges. The oracle re-derives the same edges from the ON-DISK
    * `variants_ann.vcf` with DuckDB's independent TSV parser and its own
    * copy of the SO-term predicate map, so the whole loop — VCF framing,
    * subprocess command, stdout capture, scan, ANN parsing, effect
    * fan-out (`,` entries, `&` effects, `-` gene lists), predicate
    * mapping, distance typing — sits behind the row/schema/hash gate. */
  private object FakeSnpEff extends graft.io.Neo4jTools.CommandRunner {
    private val effects = Vector(
      "missense_variant&synonymous_variant", // multi-effect '&' fan-out
      "intron_variant",
      "totally_novel_effect",                // unmapped → fallback predicate
      "stop_gained",
      "upstream_gene_variant",
      "frameshift_variant")
    override def run(cmd: Seq[String], cwd: Option[String]): graft.io.Neo4jTools.CommandResult = {
      // the reference invokes `java -Xmx12g -jar snpEff.jar ... <vcf>`
      // (run_snpeff, supplementation.py:135-154); honor that shape
      require(cmd.take(4) == Seq("java", "-Xmx12g", "-jar", "snpEff.jar"), cmd.toString)
      val src = scala.io.Source.fromFile(cmd.last)
      val lines = try src.getLines().toVector finally src.close()
      val out = lines.map { l =>
        if (l.startsWith("#")) l
        else {
          val f = l.split("\t", -1)
          val n = f(2).replaceAll("[^0-9]", "").toLong // variant id digits
          val eff = effects((n % effects.size).toInt)
          val genes = if (n % 2 == 0) s"G${n}A-G${n}B" else s"G${n}A" // '-' list
          val dist = if (n % 3 == 0) "" else (n * 10).toString
          val ann1 = s"${f(4)}|$eff|MODIFIER|GN|$genes|transcript|T1|pc|1/1|c.1A>G|||||$dist|"
          val ann = if (n % 2 == 1) // odd rows: second ',' ANN entry, junk distance
            ann1 + s",${f(4)}|intergenic_region|LOW|GN2|G${n}C|t|T2|pc|1/1|c.2A>G|||||notanum|"
          else ann1
          (f.take(7) :+ s"ANN=$ann").mkString("\t")
        }
      }
      graft.io.Neo4jTools.CommandResult(0, out.mkString("\n") + "\n")
    }
    override def cypher(st: String) = graft.io.Neo4jTools.CommandResult(0)
    override def executableAvailable(name: String) = true
  }

  private val q161: Q = (s, _) => {
    import s.implicits._
    val variants = s.read.json(((101 to 108).map { i =>
      val (ref, alt) = (i % 4) match {
        case 0 => ("", "G")   // empty ref → N / N-prefixed alt
        case 1 => ("A", "")   // empty alt → N-suffixed ref / N
        case 2 => ("T", "C")
        case _ => ("AC", "A")
      }
      s"""{"id":"CAID:CA$i","category":["biolink:SequenceVariant"],
          "robokop_variant_id":"HGVS:NC_0001.1:g.$i>X|chr${i % 3}|${i * 7}|b38|$ref|$alt"}"""
    } ++ Seq( // must be filtered out: wrong category / no variant id
      """{"id":"GENE:9","category":["biolink:Gene"],"robokop_variant_id":"HGVS:x|1|5|b|A|T"}""",
      """{"id":"CAID:CA999","category":["biolink:SequenceVariant"]}""")).toDS())
    val (_, edges) =
      graft.sources.Vcf.supplement(s, variants, s"$sinkOut/q161/work", FakeSnpEff)
    edges.orderBy("subject", "snpeff_effect", "object")
  }

  private val q161Sql = {
    val soMap = graft.sources.Vcf.snpEffSoPredicates.toSeq.sorted
      .map { case (k, v) => s"('$k','$v')" }.mkString(", ")
    s"""WITH raw AS (
         SELECT * FROM read_csv('$sinkOut/q161/work/variants_ann.vcf',
           delim='\t', header=false, all_varchar=true,
           names=['CHROM','POS','ID','REF','ALT','QUAL','FILTER','INFO'])
         WHERE CHROM NOT LIKE '#%'),
       ann AS (
         SELECT ID AS variant_id,
                unnest(string_split(regexp_extract(INFO, 'ANN=([^;]*)', 1), ',')) AS a
         FROM raw WHERE regexp_extract(INFO, 'ANN=([^;]*)', 1) <> ''),
       fields AS (SELECT variant_id, string_split(a, '|') AS f FROM ann),
       efg AS (
         SELECT variant_id, unnest(string_split(f[2], '&')) AS effect,
                f[5] AS genes, f[15] AS dist
         FROM fields),
       exploded AS (
         SELECT variant_id, effect, unnest(string_split(genes, '-')) AS gene_id, dist
         FROM efg),
       somap(effect, predicate) AS (VALUES $soMap)
       SELECT e.variant_id AS subject,
              coalesce(m.predicate, '${graft.sources.Vcf.fallbackPredicate}') AS predicate,
              'ENSEMBL:' || e.gene_id AS object,
              '${graft.sources.Vcf.snpEffProvenance}' AS primary_knowledge_source,
              'prediction' AS knowledge_level,
              'computational_model' AS agent_type,
              e.effect AS snpeff_effect,
              CASE WHEN regexp_matches(e.dist, '^-?[0-9]+$$') THEN CAST(e.dist AS BIGINT) END
                AS distance_to_feature
       FROM exploded e LEFT JOIN somap m ON e.effect = m.effect
       ORDER BY subject, snpeff_effect, object"""
  }

  // ---------------------------------------------------------------- q162
  /** O2 — a VERBATIM Automat production graph behind the hash gate:
    * `UbergraphRedundant_Automat` (the one-graph-per-source production
    * shape from graph_specs/automat-graph-spec.yaml, parsed from the
    * reference YAML when present) built through the FULL
    * `IngestPipeline.buildGraph` path — runSource state machine,
    * content-hash versioning, merge, gzipped-jsonl bundle finalization
    * (ref orion/graph_pipeline.py:240-346). The oracle re-reads the
    * written bundle parts with DuckDB's `read_json_auto` and the Spark
    * side re-derives the expected node/edge signature from the ORIGINAL
    * fixture parse — so the whole build loop (parse → merge → dedup-on-id
    * bundle write → gzip framing) sits behind the row/schema/hash gate. */
  private val parsersRes = sys.env.getOrElse("SPARK_GRAFT_FIXTURES",
    new java.io.File("src/test/resources/parsers").getAbsolutePath)

  private def rmTree(p: java.nio.file.Path): Unit = {
    if (java.nio.file.Files.isDirectory(p)) {
      val children = java.nio.file.Files.list(p)
      try children.forEach(rmTree(_)) finally children.close()
    }
    java.nio.file.Files.deleteIfExists(p)
  }

  /** Rotation (q162): a DIFFERENT verbatim Automat graph sits behind this
    * gate each round — the graph id comes from SPARK_GRAFT_AUTOMAT_GRAPH
    * (default: this round's pick) and is recorded in the result signature
    * via a `meta` row read back from graph-metadata.json, so the artifact
    * self-documents which of the 23 production graphs was gated. Paired
    * graphs (primary + OntologicalHierarchy `connected_edge_subset`)
    * re-derive the secondary's OR-join edge filter and endpoint backfill
    * independently of the GraphMerger implementation. */
  private val automatGraphId =
    sys.env.getOrElse("SPARK_GRAFT_AUTOMAT_GRAPH", "STRING-DB_Automat")

  /** Automat source id → checked-in fixture dir (plain-file sources;
    * the Derby-seeded and renamed-fixture sources stage through
    * [[stagedAutomatDirs]], so all 23 production graphs are rotatable). */
  private val automatFixtureDir = Map(
    "BINDING-DB" -> "binding", "CAM-KP" -> "camkp", "COHD" -> "cohd",
    "CTD" -> "ctd", "GenomeAllianceOrthologs" -> "alliance",
    "GTEx" -> "gtex", "GtoPdb" -> "gtopdb", "GWASCatalog" -> "gwas",
    "HGNC" -> "hgnc", "HMDB" -> "hmdb", "HumanGOA" -> "goa",
    "MouseGOA" -> "goa", "IntAct" -> "intact", "OHD-Carolina" -> "ohd",
    "OntologicalHierarchy" -> "ubergraph", "PANTHER" -> "panther",
    "Reactome" -> "reactome", "STRING-DB-Human" -> "string",
    "textminingkp" -> "tmkp", "UbergraphRedundant" -> "ubergraph",
    "ViralProteome" -> "viralproteome")

  /** Rotation sources with no plain checked-in fixture dir, staged once
    * per JVM (the bench re-runs q162 several times; the staged trees are
    * read-only after seeding, so memoization is exactly equivalent):
    * DrugCentral/PHAROS seed embedded Derby databases INSIDE a staged
    * dir so `Registry(id)(spark, dir)` resolves them like any other
    * source, and Hetio re-names its fixture to the registry's
    * production filename — the same staging AutomatSpecDrivenBuildSpec
    * uses, which brings the Derby-backed graphs into the rotation. */
  private lazy val stagedAutomatDirs: Map[String, String] = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val stage = Files.createTempDirectory("graft-q162-stage-").toString
    val dc = s"$stage/DrugCentral"; Files.createDirectories(Paths.get(dc))
    graft.parsers.DerbyFixtures.seedDrugCentral(dc)
    val ph = s"$stage/PHAROS"; Files.createDirectories(Paths.get(ph))
    graft.parsers.DerbyFixtures.seedPharos(ph)
    val het = s"$stage/Hetio"; Files.createDirectories(Paths.get(het))
    Files.copy(Paths.get(s"$parsersRes/hetio/hetionet-test.json.bz2"),
      Paths.get(s"$het/hetionet-v1.0.json.bz2"), StandardCopyOption.REPLACE_EXISTING)
    Map("DrugCentral" -> dc, "PHAROS" -> ph, "Hetio" -> het)
  }

  private val stagedSourceIds = Set("DrugCentral", "PHAROS", "Hetio")

  /** Pure membership test — no staging side effects, so the validation /
    * rotatable-listing paths can run even when staging itself would fail
    * (the error message must never be replaced by a seeding exception). */
  private def fixtureResolvable(id: String): Boolean =
    automatFixtureDir.contains(id) || stagedSourceIds(id)

  /** Resolved fixture dir for a rotation source id (forces the staging
    * for Derby/Hetio sources), or None when the id has neither a
    * checked-in fixture nor a staged one. */
  private def automatFixture(id: String): Option[String] =
    automatFixtureDir.get(id).map(d => s"$parsersRes/$d")
      .orElse(if (stagedSourceIds(id)) Some(stagedAutomatDirs(id)) else None)

  /** Every graph id whose sources are all fixture-resolvable — with the
    * Derby/Hetio staging that is the full 23-graph production inventory
    * when the reference YAML is present. */
  private[queries] def rotatableGraphIds: Seq[String] = {
    val refYaml = new java.io.File("/root/reference/graph_specs/automat-graph-spec.yaml")
    if (!refYaml.isFile) Nil
    else graft.pipeline.GraphSpec.parseYaml(
        java.nio.file.Files.readString(refYaml.toPath))
      .filter(_.sources.forall(s => fixtureResolvable(s.id)))
      .map(_.graphId)
  }

  /** Fails loud, up front, when SPARK_GRAFT_AUTOMAT_GRAPH names a graph
    * with an unresolvable source — listing the rotatable graph ids
    * instead of dying later with a bare NoSuchElementException. */
  private[queries] def validateRotatable(spec: graft.pipeline.GraphSpec): Unit = {
    val missing = spec.sources.map(_.id).filterNot(fixtureResolvable)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"graph ${spec.graphId} is not rotatable: no fixture for source(s) " +
          s"${missing.mkString(", ")}; rotatable graphs: " +
          rotatableGraphIds.sorted.mkString(", "))
  }

  private def automatParse(s: SparkSession, id: String) = {
    val dir = automatFixture(id).getOrElse(throw new IllegalArgumentException(
      s"no fixture for Automat source $id"))
    val g = graft.parsers.Registry(id)(s, dir)
    (g.nodes, g.edges)
  }

  /** Resolve an Automat graph id to its spec — the verbatim reference
    * YAML when present, [[inlineAutomatSpec]] otherwise. */
  private[queries] def resolveAutomatSpec(graphId: String): graft.pipeline.GraphSpec = {
    val refYaml = new java.io.File("/root/reference/graph_specs/automat-graph-spec.yaml")
    if (refYaml.isFile)
      graft.pipeline.GraphSpec.parseYaml(
          java.nio.file.Files.readString(refYaml.toPath))
        .find(_.graphId == graphId)
        .getOrElse(throw new IllegalStateException(s"$graphId not in spec"))
    else inlineAutomatSpec(graphId)
  }

  /** Automat graphs whose primary source id is not the graph id without
    * its `_Automat` suffix (automat-graph-spec.yaml). */
  private val automatSourceIds = Map("STRING-DB_Automat" -> "STRING-DB-Human")

  /** The reference spec's paired shape for `graphId`, built without the
    * reference tree: its primary source plus OntologicalHierarchy as a
    * connected_edge_subset source. */
  private[queries] def inlineAutomatSpec(graphId: String): graft.pipeline.GraphSpec = {
    val name = graphId.stripSuffix("_Automat")
    graft.pipeline.GraphSpec(graphId, name, Seq("neo4j"), conflation = false, Nil, Seq(
      graft.pipeline.GraphSource(automatSourceIds.getOrElse(graphId, name)),
      graft.pipeline.GraphSource("OntologicalHierarchy", mergeStrategy = "connected_edge_subset")))
  }

  /** Build the graph through the FULL production pipeline into `out`. */
  private[queries] def automatBuild(s: SparkSession,
      spec: graft.pipeline.GraphSpec, out: String): Unit = {
    rmTree(java.nio.file.Paths.get(out)) // fresh state machine per invocation
    val loaders = spec.sources.map { src =>
      src.id -> (new graft.pipeline.IngestPipeline.SourceLoader {
        val sourceId = src.id
        def parse(sp: SparkSession) = automatParse(sp, src.id)
        override def nodeNormMapDefined: Boolean = false
      }: graft.pipeline.IngestPipeline.SourceLoader)
    }.toMap
    graft.pipeline.IngestPipeline.buildGraph(s, spec, loaders, out)
  }

  private val q162: Q = (s, _) => {
    val spec = resolveAutomatSpec(automatGraphId)
    validateRotatable(spec)
    automatBuild(s, spec, s"$sinkOut/q162/bundle")
    automatSignature(s, spec)
  }

  /** The expected signature, re-derived from the ORIGINAL fixture parses
    * with plain DataFrame ops (independent of GraphMerger/MergeEngine):
    * nodes = primary parse ∪ backfilled endpoints of kept secondary edges;
    * edges = primary ∪ OR-join-kept secondary, deduped on the composite
    * merge key (subject/predicate/object/pks + qualifier columns + the
    * spec's edge-merging attributes). AutomatRotationSpec pins
    * pipeline⟷derivation agreement for additional graphs beyond the one
    * the q162 DuckDB gate carries each round. */
  private[queries] def automatSignature(s: SparkSession,
      spec: graft.pipeline.GraphSpec): DataFrame = {
    import graft.model.Biolink
    val primarySrc = spec.sources.filter(_.mergeStrategy == "default") match {
      case Seq(one) => one
      case more => throw new IllegalStateException(s"rotation expects 1 primary, got $more")
    }
    val (pn0, pe) = automatParse(s, primarySrc.id)
    val pn = pn0.dropDuplicates("id")
    // the composite merge key: s/p/o + pks + qualifiers + the spec's
    // custom edge-merging attributes (CTD_Automat splits on taxon)
    def keyCols(df: org.apache.spark.sql.DataFrame): Seq[String] =
      Seq(Biolink.Subject, Biolink.Predicate, Biolink.Object_) ++
        df.columns.filter(c => c == Biolink.PrimaryKnowledgeSource ||
          Biolink.isQualifier(c) || spec.edgeMergingAttributes.contains(c))
    val (allNodes, allEdges) =
      spec.sources.filter(_.mergeStrategy == "connected_edge_subset") match {
        case Seq() => (pn, pe.dropDuplicates(keyCols(pe)))
        case secs =>
          val pIds = pn.select(col("id"))
          val (backfills, kepts) = secs.map { sec =>
            val (on0, oe) = automatParse(s, sec.id)
            val kept = oe
              .join(pIds.withColumnRenamed("id", "_sh"),
                oe(Biolink.Subject) === col("_sh"), "left")
              .join(pIds.withColumnRenamed("id", "_oh"),
                oe(Biolink.Object_) === col("_oh"), "left")
              .filter(col("_sh").isNotNull || col("_oh").isNotNull)
              .drop("_sh", "_oh")
            val missing = kept
              .select(explode(array(col(Biolink.Subject), col(Biolink.Object_))).as("id"))
              .distinct().join(pIds, Seq("id"), "left_anti")
            val backfill = on0.dropDuplicates("id").join(missing, Seq("id"), "left_semi")
            (backfill, kept)
          }.unzip
          val nodes = (pn +: backfills).reduce(_.unionByName(_, allowMissingColumns = true))
            .dropDuplicates("id")
          val edges0 = (pe +: kepts).reduce(_.unionByName(_, allowMissingColumns = true))
          (nodes, edges0.dropDuplicates(keyCols(edges0)))
      }
    val nodeSig = allNodes.select(
      lit("node").as("kind"), col("id").as("a"),
      array_join(array_sort(col("category")), "|").as("b"),
      lit("").as("c"), lit("").as("d"))
    val edgeSig = allEdges.select(
      lit("edge").as("kind"), col(Biolink.Subject).as("a"),
      col(Biolink.Predicate).as("b"), col(Biolink.Object_).as("c"),
      (if (allEdges.columns.contains(Biolink.PrimaryKnowledgeSource))
        coalesce(col(Biolink.PrimaryKnowledgeSource), lit(""))
      else lit("")).as("d")).distinct()
    val metaSig = s.range(1).select(
      lit("meta").as("kind"), lit("graph_id").as("a"),
      lit(spec.graphId).as("b"), lit("").as("c"), lit("").as("d"))
    nodeSig.unionByName(edgeSig).unionByName(metaSig)
      .orderBy("kind", "a", "b", "c", "d")
  }

  private val q162Sql =
    s"""WITH n AS (SELECT * FROM read_json_auto('$sinkOut/q162/bundle/nodes.jsonl/part-*')),
       -- explicit columns (not read_json_auto): the bundle writer drops
       -- null fields, so a rotation graph whose edges carry no
       -- primary_knowledge_source would otherwise make this a binder
       -- error instead of a comparison; with a forced schema the missing
       -- key reads as NULL, mirroring the Spark side's column-presence
       -- guard in automatSignature
       e AS (SELECT * FROM read_json('$sinkOut/q162/bundle/edges.jsonl/part-*',
             columns={subject:'VARCHAR', predicate:'VARCHAR', "object":'VARCHAR',
                      primary_knowledge_source:'VARCHAR'})),
       m AS (SELECT * FROM read_json_auto('$sinkOut/q162/bundle/graph-metadata.json'))
       SELECT kind, a, b, c, d FROM (
         SELECT 'node' AS kind, id AS a,
                array_to_string(list_sort(category), '|') AS b, '' AS c, '' AS d FROM n
         UNION ALL
         SELECT DISTINCT 'edge', subject, predicate, object,
                coalesce(primary_knowledge_source, '') FROM e
         UNION ALL
         SELECT 'meta', 'graph_id', graph_id, '', '' FROM m)
       ORDER BY kind, a, b, c, d"""

  // ---------------------------------------------------------------- q163
  /** O2 wide-merge — the multi-source robokop build shape behind the hash
    * gate (ref orion/graph_pipeline.py:110-317 + kgx_file_merger.py:102-162):
    * FOUR sources — ALL THREE merge strategies — through the FULL
    * `IngestPipeline.buildGraph` path: a primary whose node+predicate
    * normalization runs INSIDE the pipeline (strict unmapped-node drop,
    * same-norm-id collapse, predicate remap/inversion/related_to-fallback,
    * subclass self-loop removal, remove-unconnected; ref
    * orion/ingest_pipeline.py:268-363), a second pre-normalized primary
    * overlapping it (cross-source node property merge + composite-key
    * edge merge), a `connected_edge_subset` secondary (OR endpoint join +
    * node backfill against the FROZEN primary id set; ref
    * kgx_file_merger.py:127-162), and a `dont_merge` source (nodes join
    * the property merge, edges append VERBATIM even on a key collision;
    * ref kgx_file_merger.py:164-172).
    * The oracle re-reads the written gzipped bundle parts with DuckDB's
    * own json parser; the Spark side is the hand-derived expected
    * signature — each row annotated with the reference rule producing it,
    * so any composition bug (missed drop, failed merge, wrong backfill)
    * lands as a row/hash mismatch. */
  private def q163Loaders: Map[String, graft.pipeline.IngestPipeline.SourceLoader] = {
    import graft.normalize.Normalizer.{NodeNormEntry, PredicateNormEntry, nodeMapDf, predicateMapDf}
    val alpha = new graft.pipeline.IngestPipeline.SourceLoader {
      val sourceId = "SrcAlpha"
      def parse(sp: SparkSession) = {
        import sp.implicits._
        val nodes = sp.read.json((1 to 7).map(i =>
          s"""{"id":"ALPHA:$i","name":"Alpha $i","category":["biolink:Gene"],"srcs":["alpha"]}""").toDS())
        val edges = sp.read.json(Seq(
          // two raw edges whose subjects normalize to the SAME id → one edge
          """{"subject":"ALPHA:1","predicate":"affects_expression","object":"ALPHA:2"}""",
          """{"subject":"ALPHA:3","predicate":"affects_expression","object":"ALPHA:2"}""",
          // inverted predicate: stored flipped as NCBI:6 affected_by NCBI:4
          """{"subject":"ALPHA:4","predicate":"RO:0002212","object":"ALPHA:6"}""",
          // both endpoints normalize to NCBI:1 → subclass self-loop, removed
          """{"subject":"ALPHA:1","predicate":"subClassOf","object":"ALPHA:3"}""",
          // ALPHA:5 has no norm-map entry → strict edge drop
          """{"subject":"ALPHA:2","predicate":"affects_expression","object":"ALPHA:5"}""",
          // unmapped predicate → biolink:related_to fallback
          """{"subject":"ALPHA:6","predicate":"custom_unmapped_rel","object":"ALPHA:2"}""").toDS())
        (nodes, edges)
      }
      override def nodeNormMap(sp: SparkSession) = {
        val ncbi1Clique = Seq("ALPHA:1", "ALPHA:3", "NCBI:1")
        Some(nodeMapDf(sp, Seq(
          NodeNormEntry("ALPHA:1", "NCBI:1", "Gene One", Seq("biolink:Gene"), ncbi1Clique, Some(85.0)),
          NodeNormEntry("ALPHA:3", "NCBI:1", "Gene One", Seq("biolink:Gene"), ncbi1Clique, Some(85.0)),
          NodeNormEntry("ALPHA:2", "NCBI:2", "Gene Two", Seq("biolink:Gene"), Seq("ALPHA:2", "NCBI:2"), Some(71.5)),
          NodeNormEntry("ALPHA:4", "NCBI:4", "Gene Four", Seq("biolink:Gene"), Seq("ALPHA:4", "NCBI:4"), Some(64.0)),
          NodeNormEntry("ALPHA:6", "NCBI:6", "Gene Six", Seq("biolink:Gene"), Seq("ALPHA:6", "NCBI:6"), Some(58.25)),
          // normalizes fine but ends up edge-less → removed as unconnected
          NodeNormEntry("ALPHA:7", "NCBI:9", "Gene Nine", Seq("biolink:Gene"), Seq("ALPHA:7", "NCBI:9"), None))))
          // (no entry for ALPHA:5 → strict normalization failure)
      }
      override def predicateNormMap(sp: SparkSession) = Some(predicateMapDf(sp, Seq(
        PredicateNormEntry("affects_expression", "biolink:affects"),
        PredicateNormEntry("RO:0002212", "biolink:affected_by", inverted = true),
        PredicateNormEntry("subClassOf", "biolink:subclass_of"))))
    }
    val beta = new graft.pipeline.IngestPipeline.SourceLoader {
      val sourceId = "SrcBeta"
      override def nodeNormMapDefined = false // pre-normalized source
      def parse(sp: SparkSession) = {
        import sp.implicits._
        val nodes = sp.read.json(Seq(
          """{"id":"NCBI:2","name":"Gene Two","category":["biolink:Gene"],"srcs":["beta"]}""",
          """{"id":"NCBI:7","name":"Gene Seven","category":["biolink:Gene"],"srcs":["beta"]}""").toDS())
        val edges = sp.read.json(Seq(
          // same composite key as SrcAlpha's normalized edge → cross-source merge
          """{"subject":"NCBI:1","predicate":"biolink:affects","object":"NCBI:2","primary_knowledge_source":"infores:srcalpha"}""",
          """{"subject":"NCBI:2","predicate":"biolink:affects","object":"NCBI:7","primary_knowledge_source":"infores:srcbeta"}""").toDS())
        (nodes, edges)
      }
    }
    val gamma = new graft.pipeline.IngestPipeline.SourceLoader {
      val sourceId = "SrcGamma"
      override def nodeNormMapDefined = false
      def parse(sp: SparkSession) = {
        import sp.implicits._
        val nodes = sp.read.json(Seq(
          """{"id":"EXT:1","name":"Ext One","category":["biolink:ChemicalEntity"],"srcs":["gamma"]}""",
          """{"id":"EXT:2","name":"Ext Two","category":["biolink:ChemicalEntity"],"srcs":["gamma"]}""",
          """{"id":"EXT:9","name":"Ext Nine","category":["biolink:ChemicalEntity"],"srcs":["gamma"]}""",
          // already in the primary graph → NOT backfilled (left_anti)
          """{"id":"NCBI:7","name":"Gene Seven","category":["biolink:Gene"],"srcs":["gamma"]}""").toDS())
        val edges = sp.read.json(Seq(
          // subject in the primary id set → kept; EXT:1 backfilled
          """{"subject":"NCBI:7","predicate":"biolink:affects","object":"EXT:1","primary_knowledge_source":"infores:srcgamma"}""",
          // neither endpoint in the primary set → dropped, no backfill
          """{"subject":"EXT:2","predicate":"biolink:affects","object":"EXT:9","primary_knowledge_source":"infores:srcgamma"}""",
          // object in the primary set → kept; EXT:1 already backfilled (distinct)
          """{"subject":"EXT:1","predicate":"biolink:related_to","object":"NCBI:1","primary_knowledge_source":"infores:srcgamma"}""").toDS())
        (nodes, edges)
      }
    }
    // dont_merge (ref kgx_file_merger.py:164-172): nodes join the node
    // property merge, edges append VERBATIM — even an edge whose composite
    // key collides with a primary edge must appear as its own row
    val delta = new graft.pipeline.IngestPipeline.SourceLoader {
      val sourceId = "SrcDelta"
      override def nodeNormMapDefined = false
      def parse(sp: SparkSession) = {
        import sp.implicits._
        val nodes = sp.read.json(Seq(
          // overlaps the merged graph → property-merges (srcs gains delta)
          """{"id":"NCBI:4","name":"Gene Four","category":["biolink:Gene"],"srcs":["delta"]}""",
          """{"id":"DM:1","name":"DM One","category":["biolink:Pathway"],"srcs":["delta"]}""").toDS())
        val edges = sp.read.json(Seq(
          // same composite key as the merged NCBI:1→NCBI:2 edge — a default
          // source would merge it; dont_merge must keep it as a second row
          """{"subject":"NCBI:1","predicate":"biolink:affects","object":"NCBI:2","primary_knowledge_source":"infores:srcalpha"}""",
          """{"subject":"DM:1","predicate":"biolink:has_participant","object":"NCBI:4","primary_knowledge_source":"infores:srcdelta"}""").toDS())
        (nodes, edges)
      }
    }
    Map("SrcAlpha" -> alpha, "SrcBeta" -> beta, "SrcGamma" -> gamma,
      "SrcDelta" -> delta)
  }

  private val q163: Q = (s, _) => {
    import s.implicits._
    val spec = graft.pipeline.GraphSpec("WideMerge_Robokop_Shape", "Wide merge",
      Seq("jsonl"), conflation = false, Nil, Seq(
        graft.pipeline.GraphSource("SrcAlpha"),
        graft.pipeline.GraphSource("SrcBeta"),
        graft.pipeline.GraphSource("SrcGamma", mergeStrategy = "connected_edge_subset"),
        graft.pipeline.GraphSource("SrcDelta", mergeStrategy = "dont_merge")))
    val out = s"$sinkOut/q163/bundle"
    rmTree(java.nio.file.Paths.get(out)) // fresh state machine per invocation
    graft.pipeline.IngestPipeline.buildGraph(s, spec, q163Loaders, out)
    // expected signature, hand-derived row by row from the fixtures:
    // nodes (id, sorted category, sorted contributing sources) —
    // the srcs column IS the cross-source property-merge witness
    Seq(
      ("node", "DM:1", "biolink:Pathway", "delta"),          // dont_merge node joins the node merge
      ("node", "EXT:1", "biolink:ChemicalEntity", "gamma"),  // backfilled endpoint of kept secondary edges
      ("node", "NCBI:1", "biolink:Gene", "alpha"),           // ALPHA:1+ALPHA:3 same-norm-id collapse
      ("node", "NCBI:2", "biolink:Gene", "alpha|beta"),      // cross-source node property merge
      ("node", "NCBI:4", "biolink:Gene", "alpha|delta"),     // dont_merge node property-merges too
      ("node", "NCBI:6", "biolink:Gene", "alpha"),
      ("node", "NCBI:7", "biolink:Gene", "beta"),            // gamma's copy NOT backfilled → srcs stays beta
      // dropped nodes: ALPHA:5 (strict norm failure), NCBI:9 (unconnected),
      // EXT:2/EXT:9 (their edge had no primary endpoint)
      ("edge", "DM:1", "biolink:has_participant", "NCBI:4"), // dont_merge edge appended
      ("edge", "EXT:1", "biolink:related_to", "NCBI:1"),     // secondary kept via object hit
      ("edge", "NCBI:1", "biolink:affects", "NCBI:2"),       // 2 alpha raws + 1 beta row → ONE merged edge
      ("edge", "NCBI:1", "biolink:affects", "NCBI:2"),       // SrcDelta's same-key edge appends VERBATIM (dont_merge)
      ("edge", "NCBI:2", "biolink:affects", "NCBI:7"),
      ("edge", "NCBI:6", "biolink:affected_by", "NCBI:4"),   // inverted predicate flipped endpoints
      ("edge", "NCBI:6", "biolink:related_to", "NCBI:2"),    // unmapped predicate fallback
      ("edge", "NCBI:7", "biolink:affects", "EXT:1")         // secondary kept via subject hit
      // dropped edges: subclass self-loop, edge to unmapped ALPHA:5, EXT:2→EXT:9
    ).toDF("kind", "a", "b", "c").orderBy("kind", "a", "b", "c")
  }

  private val q163Sql =
    s"""WITH n AS (SELECT * FROM read_json_auto('$sinkOut/q163/bundle/nodes.jsonl/part-*')),
       e AS (SELECT * FROM read_json_auto('$sinkOut/q163/bundle/edges.jsonl/part-*'))
       SELECT kind, a, b, c FROM (
         SELECT 'node' AS kind, id AS a,
                array_to_string(list_sort(category), '|') AS b,
                array_to_string(list_sort(srcs), '|') AS c FROM n
         UNION ALL
         SELECT 'edge', subject, predicate, object FROM e)
       ORDER BY kind, a, b, c"""

  // ---------------------------------------------------------------- q164
  /** N2 LENIENT mode behind the bundle hash gate (ref
    * orion/normalization.py:225-317 with strict_normalization off, wired
    * through orion/kgx_file_normalizer.py:64-67): a single-source
    * buildGraph whose loader sets `strictNormalization = false` —
    * unmapped nodes are RETAINED with enforced categories (types the
    * biolink model doesn't know move to `custom_node_types`, NamedThing
    * appended, a missing category reads as [NamedThing]) and edges
    * referencing them survive on the ORIGINAL ids (the reference's
    * identity lookup entries, normalization.py:299-301). q163's strict
    * pipeline drops the analogous node AND its edge (the ALPHA:5 rows),
    * so this gate's oracle is exactly what distinguishes
    * lenient-retained rows from strict drops. */
  private def q164Loader: graft.pipeline.IngestPipeline.SourceLoader = {
    import graft.normalize.Normalizer.{NodeNormEntry, PredicateNormEntry, nodeMapDf, predicateMapDf}
    new graft.pipeline.IngestPipeline.SourceLoader {
      val sourceId = "LenientSrc"
      override def strictNormalization: Boolean = false
      def parse(sp: SparkSession) = {
        import sp.implicits._
        val nodes = sp.read.json(Seq(
          """{"id":"L:1","name":"One","category":["biolink:Gene"]}""",
          """{"id":"L:2","name":"Two","category":["biolink:Gene"]}""",
          // unmapped + an invalid type → kept, type moves to custom_node_types
          """{"id":"L:3","name":"Lost Three","category":["custom:Weird","biolink:Gene"]}""",
          // unmapped, no name, no category → name falls back to the id
          // tail, category to [NamedThing]
          """{"id":"L:4"}""",
          // unmapped with an already-valid category → kept verbatim
          """{"id":"L:5","name":"Lost Five","category":["biolink:NamedThing"]}""").toDS())
        val edges = sp.read.json(Seq(
          """{"subject":"L:1","predicate":"affects_expression","object":"L:2"}""",
          // object unmapped → STRICT drops this edge; lenient keeps it on L:3
          """{"subject":"L:2","predicate":"affects_expression","object":"L:3"}""",
          // subject unmapped → survives as L:4 → NCBI:100
          """{"subject":"L:4","predicate":"affects_expression","object":"L:1"}""",
          // two lenient-retained endpoints + unmapped predicate → related_to
          """{"subject":"L:5","predicate":"custom_unmapped_rel","object":"L:4"}""").toDS())
        (nodes, edges)
      }
      override def nodeNormMap(sp: SparkSession) = Some(nodeMapDf(sp, Seq(
        NodeNormEntry("L:1", "NCBI:100", "Gene Hundred", Seq("biolink:Gene"),
          Seq("L:1", "NCBI:100"), Some(80.0)),
        NodeNormEntry("L:2", "NCBI:200", "Gene TwoHundred", Seq("biolink:Gene"),
          Seq("L:2", "NCBI:200"), Some(70.0)))))
      override def predicateNormMap(sp: SparkSession) = Some(predicateMapDf(sp, Seq(
        PredicateNormEntry("affects_expression", "biolink:affects"))))
    }
  }

  private val q164: Q = (s, _) => {
    import s.implicits._
    val spec = graft.pipeline.GraphSpec("Lenient_Normalization_Shape", "Lenient",
      Seq("jsonl"), conflation = false, Nil,
      Seq(graft.pipeline.GraphSource("LenientSrc")))
    val out = s"$sinkOut/q164/bundle"
    rmTree(java.nio.file.Paths.get(out)) // fresh state machine per invocation
    graft.pipeline.IngestPipeline.buildGraph(s, spec,
      Map("LenientSrc" -> q164Loader), out)
    // expected signature, hand-derived per reference rule:
    // node rows (id, sorted categories, sorted custom types, name);
    // edge rows (subject, predicate, object, pks)
    Seq(
      ("node", "L:3", "biolink:Gene|biolink:NamedThing", "custom:Weird", "Lost Three"),
      ("node", "L:4", "biolink:NamedThing", "", "4"),
      ("node", "L:5", "biolink:NamedThing", "", "Lost Five"),
      ("node", "NCBI:100", "biolink:Gene", "", "Gene Hundred"),
      ("node", "NCBI:200", "biolink:Gene", "", "Gene TwoHundred"),
      ("edge", "L:4", "biolink:affects", "NCBI:100", "infores:lenientsrc"),
      ("edge", "L:5", "biolink:related_to", "L:4", "infores:lenientsrc"),
      ("edge", "NCBI:100", "biolink:affects", "NCBI:200", "infores:lenientsrc"),
      ("edge", "NCBI:200", "biolink:affects", "L:3", "infores:lenientsrc")
    ).toDF("kind", "a", "b", "c", "d").orderBy("kind", "a", "b", "c", "d")
  }

  private val q164Sql =
    s"""WITH n AS (SELECT * FROM read_json('$sinkOut/q164/bundle/nodes.jsonl/part-*',
         columns={id:'VARCHAR', name:'VARCHAR', category:'VARCHAR[]',
                  custom_node_types:'VARCHAR[]'})),
       e AS (SELECT * FROM read_json('$sinkOut/q164/bundle/edges.jsonl/part-*',
         columns={subject:'VARCHAR', predicate:'VARCHAR', "object":'VARCHAR',
                  primary_knowledge_source:'VARCHAR'}))
       SELECT kind, a, b, c, d FROM (
         SELECT 'node' AS kind, id AS a,
                array_to_string(list_sort(category), '|') AS b,
                coalesce(array_to_string(list_sort(custom_node_types), '|'), '') AS c,
                name AS d FROM n
         UNION ALL
         SELECT 'edge', subject, predicate, object, primary_knowledge_source FROM e)
       ORDER BY kind, a, b, c, d"""

  // ---------------------------------------------------------------- q165
  /** K4 sidecars — the Memgraph dump bundle's MANIFEST and INDEX-CYPHER
    * files under the hash gate (ref orion/kgx_file_converter.py:56-87
    * generates the index cypher; orion/memgraph_tools.py:8-48 the dump
    * layout): `createMemgraphDump` writes memgraph_kgx_v1_nodes.csv +
    * _indexes.cypher + per-predicate edge dirs + _manifest.txt (the edge
    * cells and split are q153's gate; the nodes csv is q151/q152's).
    * DuckDB reads BOTH text sidecars back byte-wise with ordinals
    * (read_text + list_transform index lambda); the Spark side
    * re-derives the expected lines from the ORIGINAL kgx fixture —
    * category set → CREATE INDEX lines (NamedThing name index first,
    * then per-label id indexes in sorted order), predicate set →
    * manifest lines — so the sidecar generation rules, not just the
    * bytes, sit under the gate. */
  private val q165: Q = (s, _) => {
    import s.implicits._
    val nodes = kgxNodes(s)
    val edges = kgxEdges(s)
    val out = s"$sinkOut/q165/dump"
    rmTree(java.nio.file.Paths.get(out)) // the dump is skip-if-exists; force fresh
    GraphCsvSink.createMemgraphDump(nodes, edges, out,
      graphId = "kgx", releaseVersion = "v1")
    val labels = nodes.select(explode(col("category")).as("l")).distinct()
      .orderBy("l").as[String].collect().toSeq
    val cypherLines = "CREATE INDEX ON :`biolink:NamedThing`(name);" +:
      labels.map(l => s"CREATE INDEX ON :`$l`(id);")
    val manifestLines = edges
      .select(regexp_replace(col("predicate"), ":", "_").as("p"))
      .distinct().orderBy("p").as[String].collect().toSeq
    (cypherLines.zipWithIndex.map { case (l, i) => ("cypher", (i + 1).toLong, l) } ++
      manifestLines.zipWithIndex.map { case (l, i) => ("manifest", (i + 1).toLong, l) })
      .toDF("kind", "rn", "line").orderBy("kind", "rn")
  }

  private val q165Sql =
    s"""WITH cy AS (SELECT string_split(rtrim(content, chr(10)), chr(10)) AS ls
         FROM read_text('$sinkOut/q165/dump/memgraph_kgx_v1_indexes.cypher')),
       mf AS (SELECT string_split(rtrim(content, chr(10)), chr(10)) AS ls
         FROM read_text('$sinkOut/q165/dump/memgraph_kgx_v1_edges.csv/_manifest.txt'))
       SELECT kind, rn, line FROM (
         SELECT 'cypher' AS kind,
                unnest(list_transform(ls, (x, i) -> {'rn': CAST(i AS BIGINT), 'line': x}),
                       recursive := true) FROM cy
         UNION ALL
         SELECT 'manifest',
                unnest(list_transform(ls, (x, i) -> {'rn': CAST(i AS BIGINT), 'line': x}),
                       recursive := true) FROM mf)
       ORDER BY kind, rn"""

  val defs: Map[String, Q] = Map(
    "q151_neo4j_nodes_csv"    -> q151,
    "q152_neo4j_typed_headers" -> q152,
    "q153_memgraph_edge_split" -> q153,
    "q154_kgx_bundle_gz"      -> q154,
    "q155_jdbc_staged_extract" -> q155,
    "q156_curate_pipeline"    -> q156,
    "q157_bundle_sidecars"    -> q157,
    "q158_neo4j_meta_kg"      -> q158,
    "q159_ingest_state_machine" -> q159,
    "q161_snpeff_supplement"  -> q161,
    "q162_automat_spec_build" -> q162,
    "q163_wide_merge_build"   -> q163,
    "q164_lenient_norm_build" -> q164,
    "q165_memgraph_sidecars"  -> q165)

  val oracles: Map[String, String] = Map(
    "q151_neo4j_nodes_csv"    -> q151Sql,
    "q152_neo4j_typed_headers" -> q152Sql,
    "q153_memgraph_edge_split" -> q153Sql,
    "q154_kgx_bundle_gz"      -> q154Sql,
    "q155_jdbc_staged_extract" -> q155Sql,
    "q156_curate_pipeline"    -> q156Sql,
    "q157_bundle_sidecars"    -> q157Sql,
    "q158_neo4j_meta_kg"      -> q158Sql,
    "q159_ingest_state_machine" -> q159Sql,
    "q161_snpeff_supplement"  -> q161Sql,
    "q162_automat_spec_build" -> q162Sql,
    "q163_wide_merge_build"   -> q163Sql,
    "q164_lenient_norm_build" -> q164Sql,
    "q165_memgraph_sidecars"  -> q165Sql)
}
