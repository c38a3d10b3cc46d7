package graft.exec

import graft.SparkSpec
import graft.aql._

/** Golden-JSON assertions for the two reference result shapes
  * (aql_query_result.go:22-123) on a fixed in-memory fixture.
  */
class ResultShaperSpec extends SparkSpec {

  // epoch 1706572800 = 2024-01-30T00:00:00Z (a Tuesday)
  private val T0 = 1706572800L

  private lazy val fixture = {
    import spark.implicits._
    Seq(
      (T0 + 600, "a", 1.5),
      (T0 + 700, "a", 2.5),
      (T0 + 3700, null.asInstanceOf[String], 4.0),
      (T0 + 90000, "b", 8.0) // next day 01:00
    ).toDF("t", "k", "v")
  }

  private def catalog = Catalog(Map(
    "fix" -> TableDef("fix", isFact = true, Some("t"), load = _ => fixture)))

  private def shape(json: String): String = {
    val compiled = new AqlCompiler(catalog, spark).compile(AqlJson.parseQuery(json))
    org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(ResultShaper.shape(compiled)))
  }

  test("aggregate: nested time-series map with NULL sentinel and formatted hour buckets") {
    val got = shape(s"""{
      "table": "fix",
      "measures": [{"sqlExpression": "sum(v)"}],
      "dimensions": [
        {"sqlExpression": "t", "timeBucketizer": "hour"},
        {"sqlExpression": "k"}
      ],
      "timeFilter": {"from": "$T0", "to": "${T0 + 172800}"}
    }""")
    val parsed = org.json4s.jackson.JsonMethods.parse(got)
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val m = parsed.extract[Map[String, Map[String, Double]]]
    assert(m == Map(
      "2024-01-30 00:00" -> Map("a" -> 4.0),
      "2024-01-30 01:00" -> Map("NULL" -> 4.0),
      "2024-01-31 01:00" -> Map("b" -> 8.0)))
  }

  test("aggregate: recurring bucketizer renders weekday labels") {
    val got = shape(s"""{
      "table": "fix",
      "measures": [{"sqlExpression": "count(*)"}],
      "dimensions": [{"sqlExpression": "t", "timeBucketizer": "day of week"}],
      "timeFilter": {"from": "$T0", "to": "${T0 + 172800}"}
    }""")
    val parsed = org.json4s.jackson.JsonMethods.parse(got)
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val m = parsed.extract[Map[String, Double]]
    assert(m == Map("Tuesday" -> 3.0, "Wednesday" -> 1.0))
  }

  test("aggregate: timeUnit scales raw epochs instead of formatting") {
    val got = shape(s"""{
      "table": "fix",
      "measures": [{"sqlExpression": "count(*)"}],
      "dimensions": [{"sqlExpression": "t", "timeBucketizer": "day", "timeUnit": "day"}],
      "timeFilter": {"from": "$T0", "to": "${T0 + 172800}"}
    }""")
    val parsed = org.json4s.jackson.JsonMethods.parse(got)
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val m = parsed.extract[Map[String, Double]]
    assert(m == Map((T0 / 86400).toString -> 3.0, (T0 / 86400 + 1).toString -> 1.0))
  }

  test("non-aggregate: headers + matrixData with stringified values") {
    val got = shape(s"""{
      "table": "fix",
      "measures": [{"sqlExpression": "1"}],
      "dimensions": [
        {"alias": "k", "sqlExpression": "k"},
        {"alias": "v", "sqlExpression": "v"}
      ],
      "rowFilters": ["t < ${T0 + 1000}"],
      "timeFilter": {"from": "$T0"},
      "now": ${T0 + 172800}
    }""")
    assert(got ==
      """{"headers":["k","v"],"matrixData":[["a","1.5"],["a","2.5"]]}""")
  }

  test("unlimited non-agg streams with early exit — never a full driver collect") {
    import org.apache.spark.sql.functions._
    val acc = spark.sparkContext.longAccumulator("rowsComputed")
    val counted = udf((x: Long) => { acc.add(1); x })
    val total = 4L * ResultShaper.MaxNonAggResponseRows
    // 32 narrow partitions: toLocalIterator pulls them one at a time
    val df = spark.range(0, total, 1, 32).select(counted(col("id")).as("id"))
    val compiled = graft.aql.AqlCompiler.Compiled(
      df, Seq("id"), "value", isNonAgg = true,
      graft.aql.AqlQuery(table = "x", measures = Seq(graft.aql.AqlMeasure(None, "1"))),
      java.time.ZoneId.of("UTC"), None)

    val shaped = ResultShaper.shape(compiled)
    val rows = (shaped \ "matrixData").asInstanceOf[org.json4s.JArray].arr.length
    assert(rows == ResultShaper.MaxNonAggResponseRows, s"cap not applied: $rows")
    // early exit: later partitions were never computed (well under total;
    // allow generous slack for per-partition granularity)
    assert(acc.value < total / 2,
      s"streamed path computed ${acc.value} of $total rows — no early exit")
  }

  test("dimensionless aggregate yields a single keyed leaf") {
    val got = shape(s"""{
      "table": "fix",
      "measures": [{"alias": "total", "sqlExpression": "sum(v)"}],
      "timeFilter": {"from": "$T0", "to": "${T0 + 172800}"}
    }""")
    assert(got == """{"total":16.0}""")
  }
}
