package graft.normalize

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Biolink

/** Normalization plane (SURVEY §2.7 N1-N9, §2.4 J1-J3).
  *
  * The reference calls external REST services (NodeNorm/EdgeNorm) in 5k-curie
  * batches and applies the responses row-at-a-time
  * (orion/normalization.py:134-317, orion/kgx_file_normalizer.py:226-364).
  * Spark-first: the service responses become *normalization map DataFrames*
  * (in production: fetched once for the distinct curie set via mapPartitions
  * and snapshotted for reproducibility — SURVEY §7.5 risk 4; in this
  * zero-egress sandbox: fixture-backed), and application is joins:
  *
  *   J1 node-map equi-join · J2 1→N split explode · J3 broadcast predicate
  *   join · N5 inversion column swap · N6 self-loop filter · N7 default
  *   provenance · N8 original id retention.
  *
  * Scale: the node map is distinct-curie-sized (≪ edges); Spark broadcasts
  * it when small and shuffle-joins when not — both endpoint joins hash on
  * the same edge rows so AQE pipelines them.
  */
object Normalizer {

  /** nodeMap schema: orig_id string, norm_id string, name string,
    * category array<string>, equivalent_identifiers array<string>,
    * information_content double. 1→N splits = multiple rows per orig_id. */
  final case class NodeNormEntry(
      orig_id: String, norm_id: String, name: String = null,
      category: Seq[String] = Seq(Biolink.NamedThing),
      equivalent_identifiers: Seq[String] = Nil,
      information_content: Option[Double] = None)

  /** predicate map entry (ref orion/normalization.py:400-517); fallback for
    * unresolved predicates is biolink:related_to. */
  final case class PredicateNormEntry(
      orig_predicate: String, predicate: String, inverted: Boolean = false)

  final case class NodeNormStats(preNorm: Long, postNorm: Long, failures: Long)
  final case class EdgeNormStats(
      sourceEdges: Long, normalizedEdges: Long, edgeSplits: Long,
      edgesFailedDueToNodes: Long, subclassLoopsRemoved: Long)

  def nodeMapDf(spark: SparkSession, entries: Seq[NodeNormEntry]): DataFrame = {
    import spark.implicits._
    entries.toDF()
  }

  def predicateMapDf(spark: SparkSession, entries: Seq[PredicateNormEntry]): DataFrame = {
    import spark.implicits._
    entries.toDF()
  }

  /** N1/N9 — load a snapshotted NodeNorm response file (the reference's
    * canned-response shape, tests/test_kgx_file_normalizer.py:11-73:
    * `{curie: {id:{identifier,label}, type:[...], equivalent_identifiers:
    * [{identifier,...}], information_content} | null}`) into the nodeMap
    * DataFrame. Snapshotting responses keyed by normalization version is
    * what makes builds reproducible (SURVEY §7.5 risk 4) — and the only
    * option in a zero-egress environment. */
  def nodeMapFromSnapshot(spark: SparkSession, path: String): DataFrame = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
    nodeMapDf(spark, parseNodeNormResponse(root))
  }

  /** Parse a get_normalized_nodes response object (`{curie: {...} | null}`)
    * into entries; unresolved (null) curies are omitted. Shared by the
    * snapshot loader and the live HTTP client. */
  def parseNodeNormResponse(root: com.fasterxml.jackson.databind.JsonNode): Seq[NodeNormEntry] = {
    import scala.jdk.CollectionConverters._
    root.properties().asScala.toSeq.flatMap { e =>
      val (orig, v) = (e.getKey, e.getValue)
      if (v == null || v.isNull) Nil
      else {
        val normId = v.path("id").path("identifier").asText(orig)
        val label = v.path("id").path("label").asText(null)
        val types = v.path("type").elements().asScala.map(_.asText()).toSeq
        val eids = v.path("equivalent_identifiers").elements().asScala
          .map(_.path("identifier").asText()).toSeq
        val ic = if (v.has("information_content")) Some(v.get("information_content").asDouble()) else None
        Seq(NodeNormEntry(orig, normId, label,
          if (types.nonEmpty) types else Seq(graft.model.Biolink.NamedThing), eids, ic))
      }
    }
  }

  /** Thrown for failures the reference's session retries (connection
    * errors and status_forcelist codes); anything else fails fast. */
  final case class RetryableNormFailure(message: String, cause: Throwable = null)
    extends RuntimeException(message, cause)

  /** N1 — production NodeNorm client: POST `{base}/get_normalized_nodes`
    * with the reference's exact body shape (orion/normalization.py:134-144:
    * curies + conflate + drug_chemical_conflate + description) and its
    * session retry contract (:379-387 — urllib3 Retry(total=5,
    * backoff_factor=2, status_forcelist=[500,502,503,504,403,429]), so
    * sleep n = backoff·2^(n-1)). A 200 with an empty body object raises
    * like NormalizationFailedError (:146-150) and is NOT retried (the
    * reference's Retry layer only sees status codes). Serializable so
    * `nodeMapFromService` partitions can carry it; `backoffBaseMs` is
    * injectable so tests don't wait out the exponential ladder. */
  final class HttpNodeNorm(baseUrl: String, conflation: Boolean = false,
                           includeDescription: Boolean = false,
                           timeoutSeconds: Long = 45, retries: Int = 5,
                           backoffBaseMs: Long = 2000)
      extends (Seq[String] => Map[String, NodeNormEntry]) with Serializable {
    @transient private lazy val client = java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(timeoutSeconds)).build()
    @transient private lazy val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    private val retryStatuses = Set(500, 502, 503, 504, 403, 429)

    private def postOnce(batch: Seq[String]): Map[String, NodeNormEntry] = {
      val body = mapper.createObjectNode()
      val arr = body.putArray("curies")
      batch.foreach(arr.add)
      body.put("conflate", conflation)
      body.put("drug_chemical_conflate", conflation)
      body.put("description", includeDescription)
      val url = s"${baseUrl.stripSuffix("/")}/get_normalized_nodes"
      val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
        .timeout(java.time.Duration.ofSeconds(timeoutSeconds))
        .header("content-type", "application/json")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body.toString)).build()
      val resp =
        try client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
        catch { case e: Exception =>
          throw RetryableNormFailure(s"Error reaching node norm at $url: $e", e) }
      resp.statusCode() match {
        case 200 =>
          val root = mapper.readTree(resp.body())
          if (root == null || root.isNull || (root.isObject && root.isEmpty))
            throw new RuntimeException(
              s"Node Normalization service $baseUrl returned 200 but with an empty result")
          parseNodeNormResponse(root).map(e => e.orig_id -> e).toMap
        case code if retryStatuses(code) =>
          throw RetryableNormFailure(s"Node norm response code: $code")
        case code =>
          throw new RuntimeException(s"Node norm response code: $code")
      }
    }

    override def apply(batch: Seq[String]): Map[String, NodeNormEntry] = {
      var attempt = 0
      while (attempt <= retries) {
        try return postOnce(batch)
        catch {
          case e: RetryableNormFailure =>
            attempt += 1
            if (attempt > retries) throw e
            val sleep = backoffBaseMs * (1L << (attempt - 1))
            if (sleep > 0) Thread.sleep(sleep)
        }
      }
      throw new IllegalStateException("unreachable")
    }
  }

  /** N1 — distributed batch normalization against a lookup service.
    *
    * Reference: normalize_node_data batches 5000 curies per POST to the
    * NodeNorm API (orion/normalization.py:134-200) from a single driver
    * loop. Spark-first: the DISTINCT id set is partitioned and each
    * partition issues its own batched lookups via mapPartitions — N
    * executors × batched calls instead of one serial request loop, the
    * shape that survives a 100 TB node set.
    *
    * The service function is injectable (must be Serializable): production
    * wraps an HTTP client POSTing get_normalized_nodes; tests (and this
    * zero-egress sandbox) use snapshot/fixture-backed lookups. A batch
    * that throws is retried in halves down to singletons, so one poison
    * curie fails alone instead of failing its whole batch (the reference
    * fails the batch; the halving retry is strictly more forgiving). */
  def nodeMapFromService(curies: DataFrame,
                         service: Seq[String] => Map[String, NodeNormEntry],
                         batchSize: Int = 5000): DataFrame = {
    val spark = curies.sparkSession
    import spark.implicits._
    val ids = curies.select(col(curies.columns.head).cast("string")).distinct().as[String]
    ids.mapPartitions { it =>
      def lookup(batch: Seq[String]): Iterator[NodeNormEntry] =
        try service(batch).valuesIterator
        catch {
          case _: Exception if batch.size > 1 =>
            val (a, b) = batch.splitAt(batch.size / 2)
            lookup(a) ++ lookup(b)
          case _: Exception => Iterator.empty // poison curie → normalization failure
        }
      it.grouped(batchSize).flatMap(g => lookup(g.toSeq))
    }.toDF()
  }

  /** Predicate-map snapshot (`{predicate: {predicate, inverted?}}`,
    * ref tests/test_kgx_file_normalizer.py:75-80). */
  def predicateMapFromSnapshot(spark: SparkSession, path: String): DataFrame = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
    import scala.jdk.CollectionConverters._
    val entries = root.properties().asScala.toSeq.map { e =>
      PredicateNormEntry(e.getKey,
        e.getValue.path("predicate").asText(graft.model.Biolink.RelatedTo),
        e.getValue.path("inverted").asBoolean(false))
    }
    predicateMapDf(spark, entries)
  }

  /** N1/N2 — apply node normalization: rewrite id/name/category/
    * equivalent_identifiers/information_content from the map. strict drops
    * nodes that missed (ref orion/normalization.py:225-317); lenient keeps
    * the original row AND enforces valid node types (ref :244-264): types
    * the biolink model doesn't know move to a `custom_node_types`
    * property, the valid ones are kept with NamedThing appended when
    * absent, and a missing category reads as [NamedThing]. A mapped
    * node's category still comes from the map, but `custom_node_types`
    * computed from the ORIGINAL types is retained either way — the
    * reference sets it before consulting the normalizer response. Splits
    * (1→N) fan out to N nodes; duplicate normalized ids collapse (first
    * wins, like dedup-on-write). */
  def normalizeNodes(rawNodes: DataFrame, nodeMap: DataFrame,
                     strict: Boolean = true): (DataFrame, NodeNormStats) = {
    val (out, stats, release) = normalizeNodesCached(rawNodes, nodeMap, strict)
    release() // plain API: stats computed off one materialization, cache dropped
    (out, stats)
  }

  /** [[normalizeNodes]] that returns its result PERSISTED
    * (MEMORY_AND_DISK): the stats pass materializes the map-join +
    * dropDuplicates once, and every downstream consumer (unconnected-node
    * filter, parquet write) reuses that one materialization instead of
    * re-running the join per action — a round-15 job profile (the table
    * QueryTimer prints) measured the node pipeline executing ~3× per
    * source without it. Call the returned release() once the result is
    * fully consumed. */
  def normalizeNodesCached(rawNodes: DataFrame, nodeMap: DataFrame,
                           strict: Boolean = true): (DataFrame, NodeNormStats, () => Unit) = {
    // the reference strips newline characters from every top-level string
    // property of every node, in BOTH modes, BEFORE consulting the
    // normalizer response (orion/normalization.py:235-242 vs :280) —
    // so ORIGINAL properties are stripped, while map-supplied names/ids
    // pass through untouched; string columns only, arrays untouched,
    // like the `isinstance(value, str)` guard
    val nodes = rawNodes.select(rawNodes.schema.fields.map { f =>
      if (f.dataType == org.apache.spark.sql.types.StringType)
        regexp_replace(col(f.name), "\n", "").as(f.name)
      else col(f.name)
    }.toSeq: _*)
    val preNorm = nodes.count()
    val m = nodeMap.withColumnRenamed("name", "_norm_name")
    val joined = nodes.join(m, nodes("id") === m("orig_id"),
      if (strict) "inner" else "left")
    val origCat = nodes.columns.find(_ == "category").map(_ => nodes("category"))
      .getOrElse(lit(null).cast("array<string>"))
    // a pre-existing custom_node_types property is PRESERVED (the
    // reference only assigns it when invalid types exist and never
    // deletes it, normalization.py:250-253)
    val hasCustom = nodes.columns.contains("custom_node_types")
    val preCustom =
      if (hasCustom) nodes("custom_node_types")
      else lit(null).cast("array<string>")
    val applied0 = joined
      .withColumn("_final_id", coalesce(col("norm_id"), col("id")))
      .withColumn("_final_name",
        coalesce(col("_norm_name"), nodes("name"),
          regexp_replace(col("_final_id"), "^.*:", "")))
    val applied =
      if (strict)
        applied0.withColumn("_final_cat",
          coalesce(m("category"), origCat, array(lit(Biolink.NamedThing))))
      else {
        val known = typedlit(graft.model.BiolinkModel.knownCategories)
        val raw = coalesce(origCat, array(lit(Biolink.NamedThing)))
        val valid = filter(raw, c => array_contains(known, c))
        val invalid = filter(raw, c => not(array_contains(known, c)))
        val enforced = array_distinct(
          when(array_contains(valid, lit(Biolink.NamedThing)), valid)
            .otherwise(concat(valid, array(lit(Biolink.NamedThing)))))
        applied0
          .withColumn("_final_cat", coalesce(m("category"), enforced))
          // overwrite when invalid types exist, keep the input's
          // pre-existing value otherwise
          .withColumn("_custom_types",
            coalesce(when(size(invalid) > 0, invalid), preCustom))
      }
    val passthrough = nodes.columns
      .filterNot(Set("id", "name", "category", "equivalent_identifiers",
        "information_content", "custom_node_types"))
      .map(c => nodes(c))
    val extra =
      if (!strict) Seq(col("_custom_types").as("custom_node_types"))
      else if (hasCustom) Seq(preCustom.as("custom_node_types"))
      else Nil
    val out = applied.select(Seq(
        col("_final_id").as("id"),
        col("_final_name").as("name"),
        col("_final_cat").as("category"),
        m("equivalent_identifiers"),
        m("information_content")) ++ passthrough ++ extra: _*)
      .dropDuplicates("id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // a throwing stats action must not leak the persist — the caller only
    // registers release() after this returns
    val (postNorm, failures) =
      try {
        val p = out.count() // fills the cache
        // failures are REPORTED in both modes (the reference's
        // failed_to_normalize list); only strict also drops the rows
        val f = nodes.join(m, nodes("id") === m("orig_id"), "left_anti").count()
        (p, f)
      } catch { case t: Throwable => out.unpersist(); throw t }
    (out, NodeNormStats(preNorm, postNorm, failures), () => { out.unpersist(); () })
  }

  /** The reference's `node_normalization_lookup` in LENIENT mode: the
    * node map PLUS identity entries for every node id the map missed
    * (orion/normalization.py:299-301 — `lookup[id] = [id]` when strict
    * is off) — so edges referencing a lenient-retained node survive on
    * its original id instead of dropping at the endpoint join. */
  def lenientEdgeMap(nodes: DataFrame, nodeMap: DataFrame): DataFrame = {
    val identity = nodes.select(col("id").as("orig_id")).distinct()
      .join(nodeMap.select(col("orig_id")), Seq("orig_id"), "left_anti")
      .withColumn("norm_id", col("orig_id"))
    nodeMap.select(col("orig_id"), col("norm_id")).unionByName(identity)
  }

  /** N5 — invert an edge: swap every *subject*↔*object* column
    * (ref orion/kgx_file_normalizer.py:404-413: invert_edge). The reference
    * renames dict keys, so the output schema is the union of the payload
    * columns and their swapped names — a static select per branch. */
  private def swappedName(name: String): String =
    if (name.contains("subject")) name.replace("subject", "object")
    else if (name.contains("object")) name.replace("object", "subject")
    else name

  /** J1+J2+J3+N5-N8 — full edge normalization.
    * `computeStats=false` skips the four counting passes (splits/failures/
    * loops) — use on hot paths where only the output matters; the plan is
    * identical either way. */
  def normalizeEdges(edges: DataFrame, nodeMap: DataFrame, predicateMap: DataFrame,
                     defaultProvenance: String,
                     computeStats: Boolean = true): (DataFrame, EdgeNormStats) = {
    val (out, stats, release) = normalizeEdgesCached(edges, nodeMap, predicateMap,
      defaultProvenance, computeStats)
    release() // plain API: stats off one materialization, cache dropped
    (out, stats)
  }

  /** [[normalizeEdges]] that returns its result PERSISTED
    * (MEMORY_AND_DISK) and computes the stats in TWO fused aggregation
    * passes instead of four independent re-executions of the endpoint
    * joins (failure count, loop count, splits agg, result count — a
    * round-15 job profile, the table QueryTimer prints, measured the join
    * pipeline running ~5× per source including the final write). Pass
    * equivalences:
    *  - failures = sourceEdges − distinct `_src_edge_id` surviving the
    *    endpoint joins (unchanged set: the rewrite steps are row-preserving);
    *  - loops ride the same aggregate as a conditional sum;
    *  - splits = Σ_groups (count−1) = rows − distinct ids of the result.
    * Call release() once the result is fully consumed. */
  def normalizeEdgesCached(edges: DataFrame, nodeMap: DataFrame, predicateMap: DataFrame,
                           defaultProvenance: String,
                           computeStats: Boolean = true): (DataFrame, EdgeNormStats, () => Unit) = {
    val sourceEdges = if (computeStats) edges.count() else 0L
    val withOrd = edges.withColumn("_src_edge_id", monotonically_increasing_id())

    // J1/J2: subject then object endpoint joins; inner = failed endpoints drop
    val subjMap = nodeMap.select(col("orig_id").as("_s_orig"), col("norm_id").as("_s_norm"))
    val objMap = nodeMap.select(col("orig_id").as("_o_orig"), col("norm_id").as("_o_norm"))
    val joined = withOrd
      .join(subjMap, col(Biolink.Subject) === col("_s_orig"))
      .join(objMap, col(Biolink.Object_) === col("_o_orig"))

    // J3: broadcast predicate normalization with related_to fallback
    val pm = predicateMap.select(col("orig_predicate"),
      col("predicate").as("_norm_pred"), col("inverted").as("_inverted"))
    val predApplied = joined
      .join(broadcast(pm), col(Biolink.Predicate) === col("orig_predicate"), "left")
      .withColumn("_norm_pred", coalesce(col("_norm_pred"), lit(Biolink.RelatedTo)))
      .withColumn("_inverted", coalesce(col("_inverted"), lit(false)))

    // N7/N8: provenance default + original id retention, then id rewrite
    val hasPks = edges.columns.contains(Biolink.PrimaryKnowledgeSource)
    val hasSources = edges.columns.contains(Biolink.Sources)
    val pksCol =
      if (hasPks && hasSources) coalesce(col(Biolink.PrimaryKnowledgeSource), when(col(Biolink.Sources).isNull, lit(defaultProvenance)))
      else if (hasPks) coalesce(col(Biolink.PrimaryKnowledgeSource), lit(defaultProvenance))
      else if (hasSources) when(col(Biolink.Sources).isNull, lit(defaultProvenance))
      else lit(defaultProvenance)
    val rewritten0 = predApplied
      .withColumn("original_subject", col(Biolink.Subject))
      .withColumn("original_object", col(Biolink.Object_))
      .withColumn(Biolink.Subject, col("_s_norm"))
      .withColumn(Biolink.Object_, col("_o_norm"))
      .withColumn(Biolink.Predicate, col("_norm_pred"))
      .withColumn(Biolink.PrimaryKnowledgeSource, pksCol)
    // stats mode materializes the endpoint joins exactly once; both stat
    // aggregates and the result derive from this cache
    val rewritten =
      if (computeStats)
        rewritten0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else rewritten0

    // N6: subclass self-loop removal (post-normalization ids)
    val loopCond = col(Biolink.Predicate) === Biolink.SubclassOf &&
      col(Biolink.Subject) === col(Biolink.Object_)
    // one fused pass over the joined rows: surviving distinct source ids
    // (→ failure count) + loop rows (the rewrite steps between `joined`
    // and `rewritten` are row-preserving, so the distinct-id set matches)
    val (edgesFailedDueToNodes, subclassLoopsRemoved) =
      if (!computeStats) (0L, 0L)
      else try {
        val a = rewritten.agg(
          count_distinct(col("_src_edge_id")).as("ids"),
          sum(when(loopCond, 1L)).as("loops")).head()
        (sourceEdges - a.getLong(0), if (a.isNullAt(1)) 0L else a.getLong(1))
      } catch { // a throwing action must not leak the persist
        case t: Throwable => rewritten.unpersist(); throw t
      }
    val kept = rewritten.filter(!loopCond)

    // N5: inversion — swap *subject*↔*object* columns where inverted
    val payloadCols = kept.columns.filter(c =>
      (!c.startsWith("_") && c != "orig_predicate") || c == "_src_edge_id").toSeq
    val allCols = payloadCols ++ payloadCols.map(swappedName).filterNot(payloadCols.contains)
    val straight = kept.filter(!col("_inverted"))
      .select(allCols.map(c => (if (payloadCols.contains(c)) col(c) else lit(null)).as(c)): _*)
    val inverted = kept.filter(col("_inverted"))
      .select(allCols.map { c =>
        val src = swappedName(c)
        (if (payloadCols.contains(src)) col(src) else lit(null)).as(c)
      }: _*)
    val result0 = straight.unionByName(inverted)

    if (!computeStats)
      (result0.drop("_src_edge_id"), EdgeNormStats(0, 0, 0, 0, 0), () => ())
    else {
      val result = result0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // second fused pass: result rows + distinct source ids; splits =
      // Σ_groups (count−1) = rows − distinct ids (identical to the former
      // per-id groupBy + sum(greatest(count−1, 0)) since every group ≥ 1)
      val b =
        try result.agg(count(lit(1)).as("n"),
          count_distinct(col("_src_edge_id")).as("d")).head()
        catch { // a throwing action must not leak either persist
          case t: Throwable => result.unpersist(); rewritten.unpersist(); throw t
        }
      rewritten.unpersist() // result is materialized; the join cache served it
      (result.drop("_src_edge_id"),
        EdgeNormStats(sourceEdges, b.getLong(0), b.getLong(0) - b.getLong(1),
          edgesFailedDueToNodes, subclassLoopsRemoved),
        () => { result.unpersist(); () })
    }
  }
}
