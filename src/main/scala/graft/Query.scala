package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One oracle-checked query, declared once: its name, its Spark body
  * (session and testdata dir → result frame) and the DuckDB SQL that
  * computes the same rows over the same tables. */
final case class Query(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: String)

object Query {
  /** The queries by name; a name declared twice fails fast. */
  def byName(qs: Seq[Query]): Map[String, Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty,
      s"query declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    qs.map(q => q.name -> q).toMap
  }
}
