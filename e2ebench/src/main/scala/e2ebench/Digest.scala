package e2ebench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive result digest: the row count plus the sum of each
  * row's `xxhash64` over every column, summed as an exact decimal so it
  * cannot overflow. `hash = None` marks a query checked by row count only.
  */
final case class Expect(rows: Long, hash: Option[String])

object Digest {

  /** Hash input for a column: maps have no hash in Spark, so their entries
    * are hashed as a key-sorted array.
    */
  private def hashable(c: org.apache.spark.sql.Column, t: DataType) = t match {
    case _: MapType => array_sort(map_entries(c))
    case _ => c
  }

  def of(df: DataFrame): Expect = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = renamed.schema.fields.toSeq.map(f => hashable(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val row = renamed.select(h.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0)).cast(DecimalType(38, 0))))
      .head()
    Expect(row.getLong(0), Some(row.getDecimal(1).toBigInteger.toString))
  }

  /** Whether a measured digest meets the expectation. */
  def matches(expected: Expect, got: Expect): Boolean =
    expected.rows == got.rows && expected.hash.forall(h => got.hash.contains(h))

  /** `digests.json`: scale → query prefix → {"rows": n, "xxhash64_sum": s|null}. */
  def load(path: String, scale: String): Map[String, Expect] = {
    val tree = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path))
    val node = tree.get(scale)
    require(node != null, s"$path has no digests for scale $scale")
    import scala.jdk.CollectionConverters._
    node.fields().asScala.map { e =>
      val v = e.getValue
      val h = v.get("xxhash64_sum")
      e.getKey -> Expect(v.get("rows").asLong(),
        if (h == null || h.isNull) None else Some(h.asText()))
    }.toMap
  }

  def toJson(byScale: Seq[(String, Seq[(String, Expect)])]): String =
    byScale.map { case (scale, entries) =>
      val body = entries.sortBy(_._1).map { case (q, e) =>
        s"""    ${Json.str(q)}: {"rows": ${e.rows}, "xxhash64_sum": ${e.hash.map(Json.str).getOrElse("null")}}"""
      }.mkString(",\n")
      s"""  ${Json.str(scale)}: {\n$body\n  }"""
    }.mkString("{\n", ",\n", "\n}\n")
}
