package graft.merge

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.Biolink

/** Node/edge merge-key construction, re-expressed as Catalyst columns so it
  * stays inside whole-stage codegen (no UDF on the hot path).
  *
  * Reference: edge_key_function /root/reference/orion/merging.py:71-100 —
  * key input = subject+predicate+object+primary_knowledge_source+sorted
  * qualifier "keyvalue" concatenation (+ optional custom attributes); the id
  * is the xxh64 hexdigest (or UUIDv5) of that string.
  */
object MergeKeys {

  /** Sorted `key || value` qualifier concatenation over whatever qualifier
    * columns exist in the schema (static column set → static expression). */
  def qualifierBlob(df: DataFrame): Column = {
    val qcols = df.columns.filter(Biolink.isQualifier).sorted
    if (qcols.isEmpty) lit("")
    else concat(qcols.map(c => when(col(c).isNotNull, concat(lit(c), col(c).cast("string"))).otherwise(lit(""))): _*)
  }

  /** primary_knowledge_source with fallback to the `sources` retrieval block
    * whose resource_role is primary (ref orion/merging.py:73-78). */
  def primaryKs(df: DataFrame): Column = {
    val base = if (df.columns.contains(Biolink.PrimaryKnowledgeSource))
      col(Biolink.PrimaryKnowledgeSource) else lit(null).cast("string")
    if (df.columns.contains(Biolink.Sources)) {
      val fromSources = element_at(
        filter(col(Biolink.Sources), s => s.getField(Biolink.ResourceRole) === Biolink.PrimaryKnowledgeSource), 1)
        .getField(Biolink.ResourceId)
      coalesce(nullif(base, lit("")), fromSources, lit(""))
    } else coalesce(base, lit(""))
  }

  /** The pre-hash key string for an edge DataFrame. */
  def edgeKeyInput(df: DataFrame, customAttributes: Seq[String] = Nil): Column = {
    val std = concat(
      coalesce(col(Biolink.Subject).cast("string"), lit("")),
      coalesce(col(Biolink.Predicate).cast("string"), lit("")),
      coalesce(col(Biolink.Object_).cast("string"), lit("")),
      primaryKs(df),
      qualifierBlob(df))
    if (customAttributes.isEmpty) std
    else {
      // list-valued custom attrs: python str(sorted(str(v)...)) == "['a', 'b']"
      val customs = customAttributes.map { a =>
        if (!df.columns.contains(a)) lit("")
        else df.schema(a).dataType match {
          case _: org.apache.spark.sql.types.ArrayType =>
            when(col(a).isNotNull,
              concat(lit("["),
                array_join(transform(array_sort(transform(col(a), _.cast("string"))),
                  v => concat(lit("'"), v, lit("'"))), ", "),
                lit("]"))).otherwise(lit(""))
          case _ => coalesce(col(a).cast("string"), lit(""))
        }
      }
      concat(std +: customs: _*)
    }
  }

  /** Raw xxh64 of the key string as a long — Spark's XxHash64 with seed 0 is
    * the same XXH64 as the reference's xxhash.xxh64. Codegen'd; the 8-byte
    * long is the cheap internal grouping key, [[xxh64Hex]] its rendering. */
  def xxh64Raw(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.CatalystBridge.{column, expression}
    column(org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(expression(c)), 0L))
  }

  /** xxh64 hexdigest of the key string (the reference's
    * xxhash.xxh64_hexdigest). */
  def xxh64Hex(c: Column): Column =
    lpad(hex(xxh64Raw(c)), 16, "0") // hex() drops leading zeros; hexdigest is 16 chars

  def edgeId(df: DataFrame, customAttributes: Seq[String] = Nil): Column =
    lower(xxh64Hex(edgeKeyInput(df, customAttributes)))

  /** UUIDv5 (RFC 4122) of `name` in `namespace` (ref orion/merging.py:97-99). */
  def uuid5(namespace: java.util.UUID, name: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    val nsBytes = java.nio.ByteBuffer.allocate(16)
      .putLong(namespace.getMostSignificantBits).putLong(namespace.getLeastSignificantBits).array()
    md.update(nsBytes)
    md.update(name.getBytes("UTF-8"))
    val d = md.digest()
    d(6) = ((d(6) & 0x0f) | 0x50).toByte // version 5
    d(8) = ((d(8) & 0x3f) | 0x80).toByte // RFC 4122 variant
    val bb = java.nio.ByteBuffer.wrap(d, 0, 16)
    new java.util.UUID(bb.getLong, bb.getLong).toString
  }
}
