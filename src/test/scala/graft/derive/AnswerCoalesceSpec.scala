package graft.derive

import graft.{Lineage, SparkSpec}
import org.apache.spark.sql.graftbridge.CacheEntries
import org.apache.spark.sql.functions._

/** Mirrors orion/answercoalesce_build.py behaviors: blocklist + CAID
  * filtering, symmetric-predicate direction folding, per-category
  * backlink counts. */
class AnswerCoalesceSpec extends SparkSpec {

  private lazy val nodes = {
    import spark.implicits._
    spark.read.json(Seq(
      """{"id":"MONDO:1","name":"disease one","category":["biolink:Disease","biolink:NamedThing"]}""",
      """{"id":"HGNC:1","name":"gene one","category":["biolink:Gene","biolink:NamedThing"]}""",
      """{"id":"HGNC:2","name":"gene two","category":["biolink:Gene"]}""",
      """{"id":"CAID:CA9","name":"variant","category":["biolink:SequenceVariant"]}""",
      """{"id":"BLOCKED:1","name":"blocked","category":["biolink:NamedThing"]}""").toDS())
  }

  private lazy val edges = {
    import spark.implicits._
    spark.read.json(Seq(
      """{"subject":"HGNC:1","predicate":"biolink:gene_associated_with_condition","object":"MONDO:1","primary_knowledge_source":"infores:a"}""",
      """{"subject":"HGNC:1","predicate":"biolink:interacts_with","object":"HGNC:2","primary_knowledge_source":"infores:b"}""",
      """{"subject":"CAID:CA9","predicate":"biolink:related_to","object":"MONDO:1"}""",
      """{"subject":"BLOCKED:1","predicate":"biolink:related_to","object":"MONDO:1"}""",
      """{"subject":"HGNC:2","predicate":"biolink:related_to_at_concept_level","object":"MONDO:1"}""").toDS())
  }

  /** Runs `f` on the artifacts inside a scope, as the `ac` CLI command
    * does: the kept-node and kept-edge caches are freed when it closes. */
  private def withAc[T](f: AnswerCoalesce.AcFiles => T): T =
    Lineage.scoped(scope => f(AnswerCoalesce.build(scope, nodes, edges, blocklist = Set("BLOCKED:1"))))

  test("nodelabels/nodenames exclude CAID + blocklist") {
    withAc { ac =>
      import spark.implicits._
      assert(ac.nodeLabels.select("id").as[String].collect().toSet ==
        Set("MONDO:1", "HGNC:1", "HGNC:2"))
      assert(ac.nodeNames.filter(col("id") === "MONDO:1")
        .select("name").head().getString(0) == "disease one")
    }
  }

  test("category counts over kept nodes") {
    withAc { ac =>
      val counts = ac.categoryCount.collect()
        .map(r => r.getAs[String]("category") -> r.getAs[Long]("n")).toMap
      assert(counts("biolink:Gene") == 2)
      assert(counts("biolink:NamedThing") == 2)
    }
  }

  test("links: symmetric predicate folds reverse direction to is_source=true") {
    withAc { ac =>
      val links = ac.links.collect()
        .map(r => r.getAs[String]("node") ->
          r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("links"))).toMap
      // HGNC:2 ← interacts_with (symmetric): reverse link is_source=true
      val hgnc2 = links("HGNC:2").map(l => (l.getAs[String]("other"), l.getAs[Boolean]("is_source")))
      assert(hgnc2.contains(("HGNC:1", true)))
      // MONDO:1 ← gene_associated_with_condition (not symmetric): is_source=false
      val mondo = links("MONDO:1").map(l => (l.getAs[String]("other"), l.getAs[Boolean]("is_source")))
      assert(mondo.contains(("HGNC:1", false)))
      // filtered predicate and CAID/blocked edges absent
      assert(!links.contains("CAID:CA9") && !links.contains("BLOCKED:1"))
      assert(links("MONDO:1").size == 1)
    }
  }

  test("backlinks count per endpoint category") {
    withAc { ac =>
      val bl = ac.backlinks.collect().map(r =>
        (r.getAs[String]("node"), r.getAs[Boolean]("is_source"),
          r.getAs[String]("category")) -> r.getAs[Long]("n")).toMap
      // HGNC:1 → MONDO:1 (Disease + NamedThing on object side)
      assert(bl((("HGNC:1"), true, "biolink:Disease")) == 1)
      assert(bl((("HGNC:1"), true, "biolink:NamedThing")) >= 1)
    }
  }

  test("prov lines carry knowledge sources keyed by s-blob-o") {
    withAc { ac =>
      val prov = ac.prov.collect().map(r => r.getAs[String]("key") -> r.getAs[String]("prov")).toMap
      assert(prov.size == 2)
      assert(prov.exists { case (k, v) =>
        k.startsWith("HGNC:1 ") && v.contains("infores:a") })
    }
  }

  test("build's caches are freed when the caller's scope closes") {
    // consume all six artifacts, as the CLI writes them, then close
    val before = CacheEntries.count(spark)
    withAc { ac =>
      Seq(ac.nodeLabels, ac.nodeNames, ac.categoryCount, ac.prov, ac.links, ac.backlinks)
        .foreach(_.write.format("noop").mode("overwrite").save())
    }
    val after = CacheEntries.count(spark)
    assert(after <= before, s"cache entries grew: $before -> $after")
  }
}
