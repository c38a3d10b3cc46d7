package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.aql.{AqlCompiler, AqlJson, Catalog}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import org.json4s._
import org.json4s.jackson.JsonMethods

/** [[Tables.parquet]]: one resolved relation per file set. Writes under the
  * dir — a drain's new day, a file with an added column, a part file
  * rewritten in place — must reach the next read; everything else reuses
  * the resolved relation and starts no Spark job.
  */
class ResolvedParquetSpec extends SparkSpec {
  import spark.implicits._

  private lazy val server = {
    val s = new graft.api.GraftServer(Catalog.testdata(sfDir), spark)
    s.start()
    s
  }
  private val client = HttpClient.newHttpClient()

  private def send(method: String, path: String, body: String = ""): String = {
    val req = HttpRequest.newBuilder(URI.create(s"http://localhost:${server.boundPort}$path"))
      .method(method, HttpRequest.BodyPublishers.ofString(body)).build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    assert(resp.statusCode() == 200, s"$method $path: ${resp.body()}")
    resp.body()
  }

  private def measure(table: String, expr: String): Double = {
    implicit val fmts: Formats = DefaultFormats
    val body = send("POST", "/query/aql", s"""{"queries": [{"table": "$table",
      "measures": [{"alias": "m", "sqlExpression": "$expr"}],
      "timeFilter": {"from": "1706400000"}, "now": 1706999999}]}""")
    val parsed = JsonMethods.parse(body)
    assert((parsed \ "errors") == JNull, body)
    ((parsed \ "results")(0) \ "m").extract[Double]
  }

  /** A three-day parquet dir (`id`, `v`, `day`), one file per day. */
  private def threeDays(): String = {
    val dir = Files.createTempDirectory("graft_resolved").resolve("t").toString
    Seq((1L, 10L, "2024-01-01"), (2L, 20L, "2024-01-02"), (3L, 30L, "2024-01-03"),
        (1L, 40L, "2024-01-03"))
      .toDF("id", "v", "day").coalesce(1).write.partitionBy("day").parquet(dir)
    dir
  }

  test("a drain that lands a new day in a drained dir shows up on the next query") {
    send("POST", "/schema/tables", """{"name": "trips", "isFactTable": true,
      "columns": [{"name": "request_at", "type": "Uint32"},
        {"name": "trip_id", "type": "Int64"}, {"name": "fare", "type": "Float32"}],
      "primaryKeyColumns": [1]}""")
    send("POST", "/data/trips", """[
      {"request_at": 1706572800, "trip_id": 1, "fare": 1.0},
      {"request_at": 1706572860, "trip_id": 2, "fare": 2.0},
      {"request_at": 1706572920, "trip_id": 3, "fare": 3.0}]""")
    val dir = Files.createTempDirectory("graft_trips").resolve("trips").toString
    server.drain("trips", dir)
    assert(measure("trips", "count(*)") == 3.0)
    // the drained dir's relation is resolved and reused from here on
    assert(Tables.parquet(spark, dir, mergeSchema = true) eq
      Tables.parquet(spark, dir, mergeSchema = true))

    send("POST", "/data/trips", """[
      {"request_at": 1706659300, "trip_id": 4, "fare": 4.0},
      {"request_at": 1706659400, "trip_id": 5, "fare": 5.0}]""")
    server.drain("trips", dir)
    assert(!server.hasLiveRows("trips"), "the second drain left rows in the overlay")
    assert(Files.exists(Paths.get(dir, "day=2024-01-31")))
    assert(measure("trips", "count(*)") == 5.0)
  }

  test("a drain that writes a file with an added column is visible through the mergeSchema read") {
    send("POST", "/schema/tables/trips/columns", """{"name": "tip", "type": "Float32"}""")
    send("POST", "/data/trips",
      """[{"request_at": 1706745700, "trip_id": 6, "fare": 6.0, "tip": 2.5}]""")
    server.drain("trips", server.archiveDir("trips").get)
    assert(!server.hasLiveRows("trips"))
    assert(measure("trips", "sum(tip)") == 2.5)
    assert(measure("trips", "count(*)") == 6.0)
  }

  test("one plan that reads the same resolved relation twice answers right") {
    val dir = threeDays()
    val a = Tables.parquet(spark, dir)
    val b = Tables.parquet(spark, dir)
    assert(a eq b)
    // the shape of GraftServer.scopeToOwnedDays: owned-day rows, plus the
    // moved-day rows whose key the other side of the anti-join lacks
    def scoped(l: org.apache.spark.sql.DataFrame, r: org.apache.spark.sql.DataFrame) =
      l.where(col("day") === "2024-01-01").unionByName(
        l.where(col("day") === "2024-01-03")
          .join(r.where(col("day") === "2024-01-01").select("id"), Seq("id"), "left_anti"))
    val got = scoped(a, b).collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("v"))).toSet
    val fresh = scoped(spark.read.parquet(dir), spark.read.parquet(dir))
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("v"))).toSet
    assert(got == Set((1L, 10L), (3L, 30L)))
    assert(got == fresh)
  }

  test("a second SparkSession never gets the first session's relation") {
    val dir = threeDays()
    val other = spark.newSession()
    val mine = Tables.parquet(spark, dir)
    val theirs = Tables.parquet(other, dir)
    assert(!(mine eq theirs))
    assert(mine.sparkSession eq spark)
    assert(theirs.sparkSession eq other)
    assert(Tables.parquet(other, dir) eq theirs)
    assert(Tables.parquet(spark, dir) eq mine)
  }

  test("a warm AqlCompiler.compile over Catalog.testdata starts no Spark job") {
    val compiler = new AqlCompiler(Catalog.testdata(sfDir), spark)
    val q = AqlJson.parseQuery("""{"table": "events",
      "joins": [{"table": "customer", "conditions": ["events.user_id = customer.c_custkey"]}],
      "measures": [{"alias": "n", "sqlExpression": "count(*)"}],
      "dimensions": [{"alias": "seg", "sqlExpression": "customer.c_mktsegment"}],
      "timeFilter": {"from": "1704067200"}, "now": 1706659200}""")
    val sc = spark.sparkContext
    val group = s"compile-${System.nanoTime()}"
    val jobs = new AtomicInteger
    @volatile var delivered = new CountDownLatch(1)
    // listener events arrive in order, so once the sentinel job's start is
    // seen, every job the compile started has been counted
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.incrementAndGet()
          case g if g == s"$group-sentinel" => delivered.countDown()
          case _ => ()
        }
    }
    def jobsOfOneCompile(): Int = {
      jobs.set(0)
      delivered = new CountDownLatch(1)
      try {
        sc.setJobGroup(group, "compile")
        compiler.compile(q)
        sc.setJobGroup(s"$group-sentinel", "listener sentinel")
        sc.parallelize(Seq(1), 1).count()
      } finally sc.clearJobGroup()
      assert(delivered.await(60, TimeUnit.SECONDS), "listener never saw the sentinel job")
      jobs.get
    }
    compiler.compile(q) // builds the archive on first use
    sc.addSparkListener(listener)
    try {
      val warm = jobsOfOneCompile()
      Tables.dropResolved(spark)
      val cold = jobsOfOneCompile()
      assert(warm == 0, s"a warm compile started $warm Spark jobs")
      // the listener does see the jobs a compile that resolves starts
      assert(cold > 0)
    } finally sc.removeSparkListener(listener)
  }

  test("rewriting a source part file in place gives a new eventsArchivePath") {
    val sf = Files.createTempDirectory("graft_fixture")
    val part = Files.createDirectories(sf.resolve("events.parquet")).resolve("part-00000.parquet")
    Files.write(part, Array[Byte](1, 2, 3))
    val before = Tables.eventsArchivePath(sf.toString)
    assert(Tables.eventsArchivePath(sf.toString) == before)
    Files.write(part, Array[Byte](4, 5, 6, 7))
    Files.setLastModifiedTime(part, java.nio.file.attribute.FileTime.fromMillis(
      Files.getLastModifiedTime(part).toMillis + 1000))
    assert(Tables.eventsArchivePath(sf.toString) != before)
  }
}
