package graft.normalize

import graft.SparkSpec
import graft.normalize.Normalizer.NodeNormEntry
import org.apache.spark.sql.functions._

/** N1 — distributed batch normalization via mapPartitions against an
  * injectable lookup service (normalization.py:134-200 batched NodeNorm
  * POSTs; here a serializable fixture-backed service). */
class NodeMapServiceSpec extends SparkSpec {

  test("distinct curies batch per partition; results feed normalizeNodes") {
    import spark.implicits._
    val nodes = spark.read.json(Seq(
      """{"id":"NCBIGene:100","name":"x","category":["biolink:Gene"]}""",
      """{"id":"NCBIGene:100","name":"x dup","category":["biolink:Gene"]}""",
      """{"id":"DOID:1","name":"y","category":["biolink:Disease"]}""",
      """{"id":"MISS:1","name":"z","category":["biolink:NamedThing"]}""").toDS())

    // serializable fixture service: upper-level curie space normalization
    val service: Seq[String] => Map[String, NodeNormEntry] = batch =>
      batch.collect {
        case id @ "NCBIGene:100" =>
          id -> NodeNormEntry(id, "HGNC:5", "ADA", Seq("biolink:Gene"), Seq(id, "HGNC:5"))
        case id @ "DOID:1" =>
          id -> NodeNormEntry(id, "MONDO:1", "disease", Seq("biolink:Disease"), Seq(id))
      }.toMap

    val map = Normalizer.nodeMapFromService(nodes.select("id"), service, batchSize = 2)
    assert(map.count() == 2) // MISS:1 not in the service → no entry
    val entry = map.filter(col("orig_id") === "NCBIGene:100").head()
    assert(entry.getAs[String]("norm_id") == "HGNC:5")

    val (normed, stats) = Normalizer.normalizeNodes(nodes, map, strict = true)
    assert(normed.select("id").as[String].collect().toSet == Set("HGNC:5", "MONDO:1"))
    assert(stats().failures == 1) // MISS:1 dropped under strict
  }

  test("a throwing batch splits in half so one poison curie fails alone") {
    import spark.implicits._
    val curies = (1 to 8).map(i => s"OK:$i") :+ "POISON:1"
    val service: Seq[String] => Map[String, NodeNormEntry] = batch => {
      if (batch.contains("POISON:1")) throw new RuntimeException("service 500")
      batch.map(id => id -> NodeNormEntry(id, id.replace("OK", "NORM"))).toMap
    }
    val map = Normalizer.nodeMapFromService(
      curies.toDF("id").coalesce(1), service, batchSize = 16)
    // every OK curie normalized; only the poison one missing
    assert(map.count() == 8)
    assert(map.filter(col("orig_id") === "POISON:1").count() == 0)
  }
}
