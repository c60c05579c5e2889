package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named engine query: a Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle SQL
  * over the same parquet tables. `oracle = None` → the driver records a
  * weaker rows-only check.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def apply(name: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, Some(oracle))
}
