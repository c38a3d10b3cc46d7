package graft.ingest

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.{SparkSpec, Tables}
import graft.exec.SliceBootstrap
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Host-memory-manager parity drill (ref memstore/host_memory_manager.go):
  * preloadingDays pin the hot tail in the columnar cache (plan-visible as
  * InMemoryTableScan), results are identical cached vs cold, eviction
  * follows (priority, day) under the byte budget, and /dbg/cache reports
  * the residency.
  */
class HostMemoryManagerSpec extends SparkSpec {

  private def archiveDir: String = {
    Tables.eventsArchived(spark, sfDir)
    Tables.eventsArchivePath(sfDir)
  }

  /** Bytes of one cached day — the unit the eviction budgets are sized in. */
  private lazy val oneDayBytes: Long = {
    val probe = new HostMemoryManager(spark, budgetBytes = 1L << 30)
    try {
      probe.preload("events", archiveDir, preloadingDays = 1)
      val b = probe.residentBytes
      assert(b > 0, "cached day reported zero bytes")
      b
    } finally probe.clear()
  }

  private def planString(df: DataFrame): String = {
    df.collect()
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    (root +: root.collect { case a: AdaptiveSparkPlanExec => a.executedPlan })
      .map(_.treeString).mkString("\n")
  }

  test("preload pins the most recent days; hot queries hit the columnar cache; " +
      "results identical cached vs cold") {
    val dir = archiveDir
    val mgr = new HostMemoryManager(spark, budgetBytes = 1L << 30)
    try {
      val days = SliceBootstrap.localDays(spark, dir)
      assert(days.length >= 3, s"fixture needs several days, got $days")
      val added = mgr.preload("events", dir, preloadingDays = 2)
      assert(added == days.takeRight(2), s"$added vs ${days.takeRight(2)}")
      assert(mgr.residentBytes > 0)

      // identity: full-table and per-day aggregates match the plain scan
      val cold = spark.read.parquet(dir)
      val hotView = mgr.view("events", dir)
      assert(hotView.count() == cold.count())
      def byDay(df: DataFrame) = df.groupBy(col(Archiver.DayCol)).count()
        .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
      assert(byDay(hotView) == byDay(cold))

      // a query over a PRELOADED day reads the in-memory relation
      val hotPlan = planString(
        hotView.where(col(Archiver.DayCol) === days.last).agg(count(lit(1))))
      assert(hotPlan.contains("InMemoryTableScan"),
        s"preloaded day did not hit the cache:\n${hotPlan.take(2000)}")
      // a COLD day still answers from the parquet branch (the cached
      // branches stay in the union plan but filter to zero rows; the day
      // predicate reaches the scan for partition pruning)
      val coldQ = mgr.view("events", dir)
        .where(col(Archiver.DayCol) === days.head)
      val coldPlan = planString(coldQ.agg(count(lit(1))))
      assert(coldPlan.contains("Scan parquet") ||
        coldPlan.contains("FileScan parquet"), coldPlan.take(2000))
      assert(coldQ.count() ==
        cold.where(col(Archiver.DayCol) === days.head).count())
    } finally mgr.clear()
  }

  test("over-budget preload evicts oldest-first at equal priority and stays identical") {
    val dir = archiveDir
    val days = SliceBootstrap.localDays(spark, dir)
    assert(days.length >= 3)
    // budget ≈ 2.5 days: preloading the full range must shed the oldest
    val mgr = new HostMemoryManager(spark, budgetBytes = oneDayBytes * 5 / 2)
    try {
      mgr.preload("events", dir, preloadingDays = days.length, priority = 0)
      assert(mgr.residentBytes <= oneDayBytes * 5 / 2,
        s"${mgr.residentBytes} over budget")
      val status = mgr.statusJson
      assert(status.contains(s""""day":"${days.last}""""),
        s"newest day evicted: $status")
      assert(!status.contains(s""""day":"${days.head}""""),
        s"oldest day survived over budget: $status")
      // identity holds after eviction: evicted days fall back to cold scan
      assert(mgr.view("events", dir).count() == spark.read.parquet(dir).count())
    } finally mgr.clear()
  }

  test("priority outranks age in the eviction order") {
    val dir = archiveDir
    val days = SliceBootstrap.localDays(spark, dir)
    // budget ≈ 1.5 days: pin the OLDEST day at priority 10, then preload
    // the newest at priority 0 — the second pin pushes residency over
    // budget and the priority-0 NEWEST day must be the one evicted
    val mgr = new HostMemoryManager(spark, budgetBytes = oneDayBytes * 3 / 2)
    try {
      assert(mgr.pin("events", dir, days.head, priority = 10))
      mgr.preload("events", dir, preloadingDays = 1, priority = 0)
      val status = mgr.statusJson
      assert(status.contains(s""""day":"${days.head}""""),
        s"high-priority old day evicted: $status")
      assert(!status.contains(s""""day":"${days.last}""""),
        s"priority-0 newest day outlived a priority-10 pin: $status")
      // unknown day: pin reports false instead of caching nothing silently
      assert(!mgr.pin("events", dir, "1970-01-01"))
    } finally mgr.clear()
  }

  test("a column-config update (preloadingDays/priority) fires the preload " +
      "against the table's archive — the reference's preloadJob") {
    val server = new graft.api.GraftServer(graft.aql.Catalog.testdata(sfDir), spark)
    server.start()
    val mgr = new HostMemoryManager(spark, budgetBytes = 1L << 30)
    try {
      server.memoryManager = Some(mgr)
      val client = HttpClient.newHttpClient()
      def post(path: String, body: String) = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://localhost:${server.boundPort}$path"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      def put(path: String, body: String) = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://localhost:${server.boundPort}$path"))
          .PUT(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())

      assert(post("/schema/tables", """{
        "name": "hot_rides", "isFactTable": true,
        "columns": [
          {"name": "request_at", "type": "Uint32"},
          {"name": "ride_id", "type": "Int64"},
          {"name": "fare", "type": "Float32"}
        ],
        "primaryKeyColumns": [1]
      }""").statusCode() == 200)
      // two days of rows, then drain to a day-partitioned archive
      assert(post("/data/hot_rides", """[
        {"request_at": 1706572800, "ride_id": 1, "fare": 10.5},
        {"request_at": 1706659200, "ride_id": 2, "fare": 20.25}
      ]""").statusCode() == 200)
      val dir = java.nio.file.Files.createTempDirectory("hot_drain").toString
      server.drain("hot_rides", dir)

      // BEFORE the config update: nothing resident
      assert(mgr.residentBytes == 0)
      val upd = put("/schema/tables/hot_rides/columns/fare",
        """{"config": {"preloadingDays": 1, "priority": 7}}""")
      assert(upd.statusCode() == 200, upd.body())
      // the update fired the preload: most recent day resident at prio 7
      val status = mgr.statusJson
      assert(mgr.residentBytes > 0, status)
      assert(status.contains(""""table":"hot_rides"""") &&
        status.contains(""""priority":7"""), status)
      // and the stored knobs survive a schema read-back
      val schema = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://localhost:${server.boundPort}/schema/tables/hot_rides"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofString()).body()
      assert(schema.contains(""""preloadingDays":1""") &&
        schema.contains(""""priority":7"""), schema)
    } finally {
      mgr.clear()
      server.stop()
    }
  }

  test("/dbg/cache serves the residency report and the wrapped catalog " +
      "answers identically through the server") {
    val dir = archiveDir
    val mgr = new HostMemoryManager(spark, budgetBytes = 1L << 30)
    val server = new graft.api.GraftServer(
      mgr.wrapCatalog(graft.aql.Catalog.testdata(sfDir), "events", dir), spark)
    server.start()
    try {
      mgr.preload("events", dir, preloadingDays = 1, priority = 3)
      server.memoryManager = Some(mgr)
      val client = HttpClient.newHttpClient()
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://localhost:${server.boundPort}/dbg/cache")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200, resp.body())
      assert(resp.body().contains("residentBytes") &&
        resp.body().contains(""""priority":3"""), resp.body())

      val q = s"""{"queries": [{"table": "events",
          "measures": [{"alias": "value", "sqlExpression": "count(*)"}],
          "dimensions": [{"alias": "et", "sqlExpression": "event_type"}],
          "timeFilter": {"from": "1704067200"}, "now": 1706659200}]}"""
      val viaCache = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://localhost:${server.boundPort}/query/aql"))
          .POST(HttpRequest.BodyPublishers.ofString(q)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(viaCache.statusCode() == 200, viaCache.body())
      val plain = new graft.api.GraftServer(graft.aql.Catalog.testdata(sfDir), spark)
      plain.start()
      try {
        val viaPlain = client.send(
          HttpRequest.newBuilder(URI.create(
            s"http://localhost:${plain.boundPort}/query/aql"))
            .POST(HttpRequest.BodyPublishers.ofString(q)).build(),
          HttpResponse.BodyHandlers.ofString())
        assert(viaCache.body() == viaPlain.body(),
          s"cached and plain serving diverged:\n  ${viaCache.body()}\n  ${viaPlain.body()}")
      } finally plain.stop()
    } finally {
      mgr.clear()
      server.stop()
    }
  }

  test("invalidate drops a rewritten pinned day so corrections surface") {
    // the identity contract holds only while pinned days are immutable:
    // a Backfill patch of a pinned day otherwise keeps serving the
    // pre-rewrite rows forever (view's cold side EXCLUDES cached days)
    val dir = java.nio.file.Files.createTempDirectory("hmm-inv").toString
    val ev = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    Archiver.archive(ev, "ts", Seq("event_type"), dir)
    val mgr = new HostMemoryManager(spark, budgetBytes = 1L << 30)
    try {
      val day = SliceBootstrap.localDays(spark, dir).last
      assert(mgr.pin("events", dir, day))
      // patch the pinned day in place
      val corrections = ev
        .where(date_format(col("ts"), "yyyy-MM-dd") === day)
        .limit(10).withColumn("value", lit(-42.0))
      Backfill(spark, dir, corrections, "ts", Seq("event_id"), Seq("event_type"))
      def corrected(): Long = mgr.view("events", dir)
        .where(col(Archiver.DayCol) === day && col("value") === -42.0).count()
      // the stale pinned frame hides the corrections — the hazard itself
      assert(corrected() == 0L, "expected the pinned day to serve stale rows")
      // invalidate → the day serves cold, corrected
      assert(mgr.invalidate("events", Seq(day)) == Seq(day))
      assert(corrected() == 10L)
      // idempotent on a day that is no longer resident
      assert(mgr.invalidate("events", Seq(day)).isEmpty)
    } finally mgr.clear()
  }
}
