package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One gate query: a Spark implementation and an equivalent ANSI SQL
  * string that the DuckDB oracle runs over the same parquet tables.
  * Column names MUST match between the two (the oracle compare sorts
  * columns by name before hashing).
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: String)

object QueryDef {
  def apply(name: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, oracle)
}
