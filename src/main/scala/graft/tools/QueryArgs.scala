package graft.tools

import graft.SparkEntry

/** Command line of the query tools: SparkEntry query names plus
  * `flag value` pairs. Checked before any Spark session boots, because a
  * boot costs ~20 s per attempt: an unknown name fails with close-match
  * hints (q158_neo4j_meta_kg vs q158_plater_metakg was a real miss). */
object QueryArgs {
  def parse(args: Array[String], flags: String*): (Seq[String], Map[String, String]) = {
    val at = args.indices.filter(i => flags.contains(args(i)))
    require(at.forall(_ + 1 < args.length), s"${args.last} requires a value")
    val names = args.indices.filterNot(i => at.contains(i) || at.contains(i - 1)).map(args(_))
    require(names.nonEmpty, "pass at least one query name")
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, {
      val hints = unknown.map { u =>
        val near = SparkEntry.queries.keys.filter(k => k.take(5) == u.take(5)).toSeq.sorted
        s"$u (did you mean: ${if (near.nonEmpty) near.mkString(", ") else "?"})"
      }
      s"unknown queries: ${hints.mkString("; ")}"
    })
    (names, at.map(i => args(i) -> args(i + 1)).toMap)
  }
}
