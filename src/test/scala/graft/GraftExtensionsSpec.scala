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

    val top = s.sql(
      "SELECT freq_items_mg(event_type, 8)[0].item AS top1 FROM ev")
      .head().getString(0)
    val exactTop = Tables.events(s, sfDir).groupBy("event_type").count()
      .orderBy(col("count").desc, col("event_type")).head().getString(0)
    assert(top == exactTop)

    // sketch → merge round-trip through pure SQL
    val merged = s.sql(
      """SELECT hll_merge_estimate(sk) AS c FROM (
        |  SELECT hll_sketch(user_id) AS sk FROM ev GROUP BY user_id % 4)
        |""".stripMargin).head().getLong(0)
    assert(merged == sqlEst)
  }

  test("sketch SQL functions match the Column API") {
    val s = spark.newSession()
    GraftExtensions.register(s)
    Tables.events(s, sfDir).createOrReplaceTempView("ev2")

    val sqlKmv = s.sql("SELECT kmv_sketch(event_type, 8) FROM ev2")
      .head().getSeq[Long](0)
    val apiKmv = Tables.events(s, sfDir)
      .agg(graft.functions.Sketches.kmv(col("event_type"), 8))
      .head().getSeq[Long](0)
    assert(sqlKmv == apiKmv)

    val sqlCms = s.sql("SELECT cms_sketch(event_type, 64, 2) FROM ev2")
      .head().getSeq[Long](0)
    val apiCms = Tables.events(s, sfDir)
      .agg(graft.functions.Sketches.cms(col("event_type"), 64, 2))
      .head().getSeq[Long](0)
    assert(sqlCms == apiCms)

    val sqlBloom = s.sql("SELECT bloom_sketch(event_type, 256, 2) FROM ev2")
      .head().getSeq[Int](0)
    assert(sqlBloom.sum > 0 && sqlBloom.size == 256)
  }

  test("text-kernel SQL functions match the Column API") {
    val s = spark.newSession()
    GraftExtensions.register(s)
    val text = "Hello  World 123!"
    val row = s.sql(
      s"""SELECT tokenize_ws('$text') AS ws,
         |  tokenize_bpeish('$text') AS bp,
         |  normalize_text('$text') AS norm
         |""".stripMargin).head()
    assert(row.getSeq[String](0) == Seq("Hello", "World", "123!"))
    assert(row.getSeq[String](1) == Seq("Hello", "World", "123", "!"))
    assert(row.getString(2) == "hello world 123")
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
