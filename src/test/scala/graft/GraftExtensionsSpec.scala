package graft

import org.apache.spark.sql.functions._

class GraftExtensionsSpec extends SparkSpec {

  test("registered SQL functions match the Column API results") {
    // isolated session state: registration must not leak into the shared
    // suite session
    val s = spark.newSession()
    GraftExtensions.register(s)
    Tables.events(s, sfDir).createOrReplaceTempView("ev")

    val sqlEst = s.sql("SELECT hll_estimate(user_id) AS c FROM ev")
      .head().getLong(0)
    val colEst = graft.functions.Hll.hllEstimate(col("user_id"))
    val apiEst = Tables.events(s, sfDir).agg(colEst.as("c")).head().getLong(0)
    assert(sqlEst == apiEst)
    val exact = Tables.events(s, sfDir).select("user_id").distinct().count()
    assert(math.abs(sqlEst - exact) <= math.max(1L, (exact * 0.02).toLong))

    // sketch → merge round-trip through pure SQL
    val merged = s.sql(
      """SELECT hll_merge_estimate(sk) AS c FROM (
        |  SELECT hll_sketch(user_id) AS sk FROM ev GROUP BY user_id % 4)
        |""".stripMargin).head().getLong(0)
    assert(merged == sqlEst)
  }

  test("the shared session does NOT see the isolated registration") {
    val err = intercept[Exception] {
      Tables.events(spark, sfDir).createOrReplaceTempView("ev_noext")
      spark.sql("SELECT hll_estimate(user_id) FROM ev_noext").collect()
    }
    assert(err.getMessage.contains("hll_estimate"))
  }

  test("the extensions class injects every builder") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext) // must not throw; builder list is glue
    assert(GraftExtensions.builders.map(_._1).distinct.size ==
      GraftExtensions.builders.size)
  }
}
