package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every implemented operator from SURVEY.md §2 (one
  * entry each); `oracleSql` carries the DuckDB-equivalent SQL for the
  * driver's hash compare. Registered per-domain in graft.queries.*.
  */
object SparkEntry {
  /** All gate queries, one per implemented operator. */
  val all: Seq[QueryDef] =
    graft.queries.CoreQueries.defs ++
    graft.queries.TimeQueries.defs ++
    graft.queries.FunctionQueries.defs ++
    graft.queries.ExtensionQueries.defs ++
    graft.queries.AqlQueries.defs ++
    graft.queries.IngestQueries.defs ++
    graft.queries.ArrayQueries.defs

  // the maps below would silently drop a gate on a name collision; fail
  // loudly at first touch instead
  require(all.map(_.name).distinct.size == all.size,
    "duplicate gate names: " + all.groupBy(_.name).collect {
      case (n, ds) if ds.size > 1 => n }.mkString(","))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * AresDB's flagship shape — time-filtered, dimension-joined,
    * time-bucketed single-measure aggregation — run through the FULL
    * front end: AQL JSON → parser → compiler → DataFrame (the same path
    * as examples/1k_trips/queries/total_fare.aql).
    */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    val compiled = new graft.aql.AqlCompiler(graft.aql.Catalog.testdata(d), spark)
      .compile(graft.aql.AqlJson.parseQuery("""{
        "table": "lineitem",
        "joins": [{"table": "part",
                   "conditions": ["lineitem.l_partkey = part.p_partkey"]}],
        "measures": [{"alias": "revenue",
                      "sqlExpression": "sum(l_extendedprice * (1 - l_discount))",
                      "rowFilters": ["l_shipdate >= 757382400"]}],
        "dimensions": [
          {"alias": "month", "sqlExpression": "l_shipdate", "timeBucketizer": "month"},
          {"alias": "brand", "sqlExpression": "part.p_brand"}
        ]
      }"""))
    compiled.df.orderBy("month", "brand")
  }

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    all.map(q => q.name -> q.oracle).toMap
}
