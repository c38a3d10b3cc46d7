package graft.exec

import graft.SparkSpec
import graft.api.{Metrics, QueryFront}
import graft.aql.{AqlJson, Catalog, SqlFront}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** End-to-end request/response behavior of the query entry point. */
class QueryServiceSpec extends SparkSpec {

  private lazy val service = new QueryService(Catalog.testdata(sfDir), spark)
  private val Now = 1706659200L

  /** An AQLRequest body answered through the front over `svc`. */
  private def aql(svc: QueryService, body: String): String =
    JsonMethods.compact(JsonMethods.render(QueryFront.answer(new Metrics,
      AqlJson.parseRequest(body).queries)(svc.answer(_, "aql"))))

  /** A SQL request body answered through the front over `svc`. */
  private def sql(svc: QueryService, body: String): String =
    JsonMethods.compact(JsonMethods.render(QueryFront.answer(new Metrics,
      QueryFront.statements(body))(s => svc.answer(SqlFront.translate(s), "sql"))))

  test("AQLRequest with one good and one bad query: per-query errors") {
    val body = aql(service, s"""{"queries": [
      {"table": "events",
       "measures": [{"alias": "value", "sqlExpression": "count(*)"}],
       "dimensions": [{"alias": "et", "sqlExpression": "event_type"}],
       "timeFilter": {"from": "1704067200"}, "now": $Now},
      {"table": "events",
       "measures": [{"sqlExpression": "count(*)"}]}
    ]}""")
    val parsed = JsonMethods.parse(body)
    val results = (parsed \ "results").asInstanceOf[JArray].arr
    val errors = (parsed \ "errors").asInstanceOf[JArray].arr
    assert(results.length == 2 && errors.length == 2)
    assert(errors.head == JNull)
    assert(results.head.asInstanceOf[JObject].obj.nonEmpty)
    assert(errors(1).asInstanceOf[JString].s.contains("time filter"))
    assert(results(1) == JObject())
  }

  test("SQL body executes through the SQL front end") {
    val body = sql(service,
      """{"queries": ["SELECT count(*) AS value FROM events WHERE aql_time_filter(ts, \"1704067200\", \"1706659200\", UTC) AND aql_now(ts, 1706659200) GROUP BY event_type"]}""")
    val parsed = JsonMethods.parse(body)
    assert(parsed \ "errors" == JNull)
    val result = (parsed \ "results").asInstanceOf[JArray].arr.head.asInstanceOf[JObject]
    assert(result.obj.map(_._1).toSet ==
      Set("click", "signup", "purchase", "error", "view"))
  }

  test("application/hll binary: estimates round-trip within HLL tolerance") {
    val bin = service.aqlBinary(AqlJson.parseQuery(s"""{
      "table": "events",
      "measures": [{"sqlExpression": "countDistinctHLL(user_id)"}],
      "dimensions": [{"alias": "day", "sqlExpression": "ts", "timeBucketizer": "day"}],
      "timeFilter": {"from": "1706400000", "to": "1706659200"},
      "now": $Now
    }"""))
    // the endpoint emits the REFERENCE byte layout end to end
    val result = RefHllWire.readResults(bin).head.toOption.get
    assert(result.rows.nonEmpty)
    // every row: day-aligned epoch dim + a plausible per-day user estimate
    result.rows.foreach { r =>
      assert(r.dims.length == 1 && r.dims.head.exists(_ % 86400 == 0))
    }
    // sum of per-day estimates >= distinct users overall (unions overlap)
    val est = result.estimates.sum
    assert(est > 0)
  }

  test("strictCompat flag plumbs through the service to the compiler") {
    import spark.implicits._
    val rows = Seq((1L, 10L)).toDF("t", "big")
    val cat = graft.aql.Catalog(Map("w" -> graft.aql.TableDef("w", isFact = false,
      columnTypes = Map("big" -> "Int64"), load = _ => rows)))
    val q = """{"queries": [{"table": "w",
      "measures": [{"alias": "v", "sqlExpression": "count(*)",
                    "rowFilters": ["big + 1 > 0"]}]}]}"""
    val strict = aql(new QueryService(cat, spark, strictCompat = true), q)
    val err = (JsonMethods.parse(strict) \ "errors")(0)
    assert(err.asInstanceOf[JString].s.contains("over 4 bytes"))
    val loose = aql(new QueryService(cat, spark), q)
    assert(JsonMethods.parse(loose) \ "errors" == JNull)
  }

  test("binary hll() over a register column register-max merges — agrees with JSON") {
    // hll(reg) on the binary endpoint must produce the SAME estimates as
    // the JSON endpoint's register-merge path (not re-hash the packed
    // register values) — ADVICE r2: the two endpoints diverged
    val q = s"""{
      "table": "events",
      "supportingDimensions": [{"alias": "reg", "sqlExpression": "get_hll_value(user_id)"}],
      "measures": [{"sqlExpression": "hll(reg)"}],
      "dimensions": [{"alias": "et", "sqlExpression": "event_type"}],
      "timeFilter": {"from": "1704067200", "to": "1706659200"},
      "now": $Now
    }"""
    val bin = RefHllWire.readResults(service.aqlBinary(AqlJson.parseQuery(q))).head.toOption.get
    val json = JsonMethods.parse(aql(service, s"""{"queries": [$q]}"""))
    val fromJson = (json \ "results")(0).asInstanceOf[JObject].values
      .map { case (k, v) => k -> v.asInstanceOf[Double].toLong }
    val fromBin = bin.rows.indices.map { r =>
      bin.dimString(r, 0).get -> bin.estimates(r)
    }.toMap
    assert(fromBin == fromJson, s"binary=$fromBin json=$fromJson")
  }

  test("the deadline is hard: work the cancel cannot reach still fails by elapsed time") {
    // The repeating non-sticky cancel only touches Spark jobs ACTIVE at
    // tick instants. Work it cannot reach — driver-side shaping, or an
    // overdue query whose short stage jobs each fit inside a tick gap —
    // used to COMPLETE and return success past the 'hard' deadline. The
    // elapsed-time check makes the contract deterministic: a result
    // produced past the deadline is discarded with the named error. The
    // sleep stands in for any uncancellable segment (zero active jobs,
    // exactly the tick-dodge shape).
    val svc = new QueryService(Catalog.testdata(sfDir), spark, queryTimeoutSec = 1)
    val e = intercept[IllegalStateException] {
      svc.withDeadline { Thread.sleep(1400); 42 }
    }
    assert(e.getMessage.contains("query deadline exceeded (1s)"), e.getMessage)
    // and a query that finishes inside the deadline is untouched
    assert(svc.withDeadline { 7 } == 7)
  }

  test("a plan whose listed file vanishes before it runs is answered by exactly one retry") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_stale").resolve("t")
    Seq((1L, "2024-01-01"), (2L, "2024-01-02"), (4L, "2024-01-03")).toDF("v", "day")
      .coalesce(1).write.partitionBy("day").parquet(dir.toString)
    def dayFiles(day: String) = java.nio.file.Files.list(dir.resolve(s"day=$day"))
      .toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".parquet"))
    // the first load hands out the resolved relation, then the day file
    // goes; the retry must resolve the remaining files, not reuse it
    graft.Tables.parquet(spark, dir.toString)
    val loads = new java.util.concurrent.atomic.AtomicInteger
    val cat = Catalog(Map("t" -> graft.aql.TableDef("t", isFact = false, load = s => {
      val df = graft.Tables.parquet(s, dir.toString)
      if (loads.incrementAndGet() == 1) dayFiles("2024-01-02").foreach(java.nio.file.Files.delete)
      df
    })))
    val q = AqlJson.parseQuery("""{"table": "t",
      "measures": [{"alias": "s", "sqlExpression": "sum(v)"}]}""")
    val answer = new QueryService(cat, spark).answer(q, "aql")
    assert(loads.get == 2, s"${loads.get} loads")
    assert(answer == JObject("s" -> JDouble(5.0)), answer)
  }
}
