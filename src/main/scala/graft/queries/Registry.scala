package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One runnable query + its DuckDB oracle (None → driver records a
  * weaker rows-only check). */
final case class Q(
  name: String,
  fn: (SparkSession, String) => DataFrame,
  oracle: Option[String],
)

object Registry {
  def toQueries(qs: Seq[Q]): Map[String, (SparkSession, String) => DataFrame] =
    qs.map(q => q.name -> q.fn).toMap
  def toOracles(qs: Seq[Q]): Map[String, String] =
    qs.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
