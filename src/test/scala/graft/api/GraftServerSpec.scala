package graft.api

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.SparkSpec
import graft.aql.Catalog
import org.json4s._
import org.json4s.jackson.JsonMethods

/** End-to-end HTTP surface: query, ingest-then-query freshness, schema. */
class GraftServerSpec extends SparkSpec {

  private lazy val server = {
    val s = new GraftServer(Catalog.testdata(sfDir), spark)
    s.start()
    s
  }
  private lazy val base = s"http://localhost:${server.boundPort}"
  private val client = HttpClient.newHttpClient()

  private def post(path: String, body: String, accept: Option[String] = None) = {
    val builder = HttpRequest.newBuilder(URI.create(base + path))
      .POST(HttpRequest.BodyPublishers.ofString(body))
    accept.foreach(builder.header("Accept", _))
    client.send(builder.build(), HttpResponse.BodyHandlers.ofByteArray())
  }

  private def get(path: String) =
    client.send(HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def put(path: String, body: String) =
    client.send(HttpRequest.newBuilder(URI.create(base + path))
      .PUT(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def delete(path: String) =
    client.send(HttpRequest.newBuilder(URI.create(base + path)).DELETE().build(),
      HttpResponse.BodyHandlers.ofString())

  private def aqlResult(queryJson: String): JValue = {
    val resp = post("/query/aql", s"""{"queries": [$queryJson]}""")
    assert(resp.statusCode() == 200, new String(resp.body()))
    (JsonMethods.parse(new String(resp.body())) \ "results")(0)
  }

  test("POST /query/aql answers and isolates per-query errors") {
    val resp = post("/query/aql", s"""{"queries": [
      {"table": "events",
       "measures": [{"alias": "value", "sqlExpression": "count(*)"}],
       "dimensions": [{"alias": "et", "sqlExpression": "event_type"}],
       "timeFilter": {"from": "1704067200"}, "now": 1706659200}
    ]}""")
    assert(resp.statusCode() == 200)
    val parsed = JsonMethods.parse(new String(resp.body()))
    val result = (parsed \ "results").asInstanceOf[JArray].arr.head
    assert(result.asInstanceOf[JObject].obj.map(_._1).toSet ==
      Set("click", "signup", "purchase", "error", "view"))
  }

  test("POST /query/sql runs the SQL front end") {
    val resp = post("/query/sql",
      """{"queries": ["SELECT count(*) AS value FROM documents"]}""")
    assert(resp.statusCode() == 200)
    val parsed = JsonMethods.parse(new String(resp.body()))
    assert((parsed \ "errors") == JNull)
  }

  test("POST /data ingests rows that queries see immediately") {
    // count docs, ingest 3 new + 1 overwrite, count again
    def countDocs(): Double = {
      val resp = post("/query/aql",
        """{"queries": [{"table": "documents",
             "measures": [{"alias": "n", "sqlExpression": "count(*)"}]}]}""")
      implicit val fmts: Formats = DefaultFormats
      (JsonMethods.parse(new String(resp.body())) \ "results")(0)
        .asInstanceOf[JObject].values("n").asInstanceOf[Double]
    }
    val before = countDocs()

    val ingest = post("/data/documents", """[
      {"doc_id": 9000001, "text": "alpha beta", "lang": "en", "source": "api", "n_chars": 10},
      {"doc_id": 9000002, "text": "gamma", "lang": "en", "source": "api", "n_chars": 5},
      {"doc_id": 9000001, "text": "alpha beta v2", "lang": "en", "source": "api", "n_chars": 13}
    ]""")
    assert(ingest.statusCode() == 200, new String(ingest.body()))

    val after = countDocs()
    assert(after == before + 2, s"$before -> $after") // 2 new PKs, 1 overwrite

    // the later in-batch record for doc 9000001 won
    val resp = post("/query/aql", """{"queries": [{"table": "documents",
      "measures": [{"alias": "n", "sqlExpression": "count(*)"}],
      "dimensions": [{"alias": "t", "sqlExpression": "text"}],
      "rowFilters": ["doc_id = 9000001"]}]}""")
    val keys = (JsonMethods.parse(new String(resp.body())) \ "results")(0)
      .asInstanceOf[JObject].obj.map(_._1)
    assert(keys == List("alpha beta v2"))
  }

  test("Accept: application/hll returns the binary body") {
    val resp = post("/query/aql", """{"queries": [{"table": "events",
        "measures": [{"sqlExpression": "countDistinctHLL(user_id)"}],
        "dimensions": [{"alias": "day", "sqlExpression": "ts", "timeBucketizer": "day"}],
        "timeFilter": {"from": "1706400000", "to": "1706659200"},
        "now": 1706659200}]}""",
      accept = Some("application/hll"))
    assert(resp.statusCode() == 200)
    assert(resp.headers().firstValue("Content-Type").orElse("") == "application/hll")
    val result = graft.exec.RefHllWire.readResults(resp.body()).head.toOption.get
    assert(result.rows.nonEmpty && result.estimates.forall(_ > 0))
  }

  test("application/hll with a string dimension rides the dictionary section") {
    val resp = post("/query/aql", """{"queries": [{"table": "events",
        "measures": [{"sqlExpression": "countDistinctHLL(user_id)"}],
        "dimensions": [{"alias": "et", "sqlExpression": "event_type"}],
        "timeFilter": {"from": "1706400000", "to": "1706659200"},
        "now": 1706659200}]}""",
      accept = Some("application/hll"))
    assert(resp.statusCode() == 200, new String(resp.body()))
    val result = graft.exec.RefHllWire.readResults(resp.body()).head.toOption.get
    assert(result.rows.length == 5)
    val names = result.rows.indices.map(r => result.dimString(r, 0).get).toSet
    assert(names == Set("click", "signup", "purchase", "error", "view"))
  }

  test("GET /schema/tables lists tables and details one") {
    val list = get("/schema/tables")
    assert(list.statusCode() == 200)
    assert(list.body().contains("\"events\""))
    val detail = JsonMethods.parse(get("/schema/tables/events").body())
    implicit val fmts: Formats = DefaultFormats
    assert((detail \ "isFactTable").extract[Boolean])
    assert((detail \ "timeColumn").extract[String] == "ts")
  }

  test("ingestion into the archive-backed fact table keeps fresh rows visible") {
    // events is day-partitioned archive-backed by DEFAULT, and the
    // compiler day-widens its time filters; overlay rows take the day
    // column computed from `ts`, so the widened filter keeps them
    implicit val fmts: Formats = DefaultFormats
    def clicks(): Double = {
      val r = aqlResult("""{"table": "events",
        "measures": [{"alias": "n", "sqlExpression": "count(*)",
                      "rowFilters": ["event_type = 'click'"]}],
        "timeFilter": {"from": "1704067200", "to": "1706659200"},
        "now": 1706659200}""")
      (r \ "n").extract[Double]
    }
    val before = clicks()
    val ingest = post("/data/events", """[
      {"event_id": 99999991, "ts": "2024-01-15T12:00:00.000Z",
       "user_id": 7, "event_type": "click", "value": 1.0, "props": "x"}]""")
    assert(ingest.statusCode() == 200, new String(ingest.body()))
    assert(clicks() == before + 1, "fresh overlay row dropped by day-widening")
  }

  test("a pending overlay keeps day-partition pruning and counts its rows") {
    val srv = new GraftServer(Catalog.testdata(sfDir), spark)
    srv.start()
    try {
      val url = s"http://localhost:${srv.boundPort}"
      def send(path: String, body: String) = client.send(
        HttpRequest.newBuilder(URI.create(url + path))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      val query = """{"table": "events",
        "measures": [{"alias": "n", "sqlExpression": "count(*)"}],
        "timeFilter": {"from": "1705276800", "to": "1705363200"},
        "now": 1706659200}"""
      def count(): Double = {
        val r = send("/query/aql", s"""{"queries": [$query]}""")
        assert(r.statusCode() == 200, r.body())
        implicit val fmts: Formats = DefaultFormats
        ((JsonMethods.parse(r.body()) \ "results")(0) \ "n").extract[Double]
      }
      val before = count()
      val ingest = send("/data/events", """[
        {"event_id": 99999981, "ts": "2024-01-15T06:00:00.000Z",
         "user_id": 7, "event_type": "view", "value": 1.0, "props": "x"}]""")
      assert(ingest.statusCode() == 200, ingest.body())
      assert(count() == before + 1, "pending overlay row missing from the count")
      val plan = client.send(HttpRequest.newBuilder(URI.create(url + "/dbg/plan?query=" +
        java.net.URLEncoder.encode(query, "UTF-8"))).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body()
      assert("PartitionFilters: \\[[^\\]]*day".r.findFirstIn(plan).nonEmpty,
        s"no day partition filter while the overlay is pending:\n$plan")
    } finally srv.stop()
  }

  test("a drain's day swap waits for a query in flight on the drained dir") {
    val srv = new GraftServer(Catalog.testdata(sfDir), spark)
    srv.start()
    try {
      val url = s"http://localhost:${srv.boundPort}"
      def send(path: String, body: String) = client.send(
        HttpRequest.newBuilder(URI.create(url + path))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      def count(): Double = {
        val r = send("/query/aql", """{"queries": [{"table": "events",
          "measures": [{"alias": "n", "sqlExpression": "count(*)"}],
          "timeFilter": {"from": "1704067200", "to": "1706659200"},
          "now": 1706659200}]}""")
        assert(r.statusCode() == 200, r.body())
        implicit val fmts: Formats = DefaultFormats
        ((JsonMethods.parse(r.body()) \ "results")(0) \ "n").extract[Double]
      }
      def upsert(id: Long): Unit = {
        val r = send("/data/events", s"""[{"event_id": $id,
          "ts": "2024-01-15T06:00:00.000Z", "user_id": 7, "event_type": "view",
          "value": 1.0, "props": "x"}]""")
        assert(r.statusCode() == 200, r.body())
      }
      val dir = java.nio.file.Files.createTempDirectory("graft_swap").toString
      upsert(99999971L)
      srv.drain("events", dir)
      upsert(99999972L)
      val n = count()
      // a query that listed the archive and has not read it yet: the
      // backfill may merge and stage, but not swap the day's files
      val drained = new java.util.concurrent.CountDownLatch(1)
      srv.serving {
        new Thread(() => { srv.drain("events", dir); drained.countDown() }).start()
        assert(!drained.await(5, java.util.concurrent.TimeUnit.SECONDS),
          "the drain swapped day files under an in-flight query")
      }
      assert(drained.await(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(!srv.hasLiveRows("events"))
      assert(count() == n)
      // the same for a compaction: fragment the day past Compactor's
      // maxFiles (8), then compact it under an in-flight query
      import org.apache.hadoop.fs.Path
      val day = new Path(dir, s"${graft.ingest.Archiver.DayCol}=2024-01-15")
      val fs = day.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val frag = new Path(java.nio.file.Files.createTempDirectory("graft_frag").toString, "d")
      spark.read.parquet(day.toString).repartition(12).write.parquet(frag.toString)
      assert(fs.delete(day, true) && fs.rename(frag, day))
      def parts() = fs.listStatus(day).count(_.getPath.getName.startsWith("part-"))
      assert(parts() > 8)
      assert(count() == n)
      val compacted = new java.util.concurrent.CountDownLatch(1)
      srv.serving {
        new Thread(() => { srv.compact("events", dir); compacted.countDown() }).start()
        assert(!compacted.await(5, java.util.concurrent.TimeUnit.SECONDS),
          "the compaction swapped day files under an in-flight query")
      }
      assert(compacted.await(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(parts() == 1)
      assert(count() == n)
    } finally srv.stop()
  }

  test("a dimension table re-drained into its own snapshot dir keeps every row") {
    val srv = new GraftServer(Catalog.testdata(sfDir), spark)
    srv.start()
    try {
      val url = s"http://localhost:${srv.boundPort}"
      def send(path: String, body: String) = client.send(
        HttpRequest.newBuilder(URI.create(url + path))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      def regions(): Double = {
        val r = send("/query/sql",
          """{"queries": ["SELECT count(*) AS n FROM region"]}""")
        assert(r.statusCode() == 200, r.body())
        implicit val fmts: Formats = DefaultFormats
        ((JsonMethods.parse(r.body()) \ "results")(0) \ "n").extract[Double]
      }
      val n0 = regions()
      val dir = java.nio.file.Files.createTempDirectory("graft_snap").toString
      def upsert(key: Int): Unit = {
        val r = send("/data/region", s"""[{"r_regionkey": $key, "r_name": "R$key"}]""")
        assert(r.statusCode() == 200, r.body())
      }
      upsert(9001)
      srv.drain("region", dir)
      assert(regions() == n0 + 1)
      // the second snapshot reads the files it overwrites
      upsert(9002)
      srv.drain("region", dir)
      assert(!srv.hasLiveRows("region"))
      assert(regions() == n0 + 2, "rows lost by the snapshot re-drain")
    } finally srv.stop()
  }

  test("health and version probes answer") {
    assert(get("/health").body() == "OK")
    assert(get("/version").body().nonEmpty)
    // LB-drain switch (ref /health/{onOrOff}): the probe lies down with
    // a 503, serving keeps answering, /health/on restores
    assert(post("/health/off", "").statusCode() == 200)
    val drained = get("/health")
    assert(drained.statusCode() == 503 &&
      drained.body() == "Health check disabled")
    val duringDrain = post("/query/sql",
      """{"queries": ["SELECT count(*) AS value FROM documents"]}""")
    assert(duringDrain.statusCode() == 200,
      "serving must continue while the probe is drained")
    assert(post("/health/banana", "").statusCode() == 400)
    assert(post("/health/on", "").statusCode() == 200)
    assert(get("/health").body() == "OK")
    // shard path segment accepted and ignored (Spark partitions ≠ shards)
    val r = post("/data/documents/0", """[
      {"doc_id": 9100001, "text": "sharded", "lang": "en", "source": "api", "n_chars": 7}]""")
    assert(r.statusCode() == 200, new String(r.body()))
  }

  test("bad requests get a 400 with an error body") {
    val resp = post("/data/unknown_table", "[]")
    assert(resp.statusCode() == 400)
    assert(new String(resp.body()).contains("error"))
  }

  test("schema mutation: create table via HTTP, ingest, query through /query/aql") {
    // reference wire shape: column list + PK/sort column IDs
    // (api/schema_handler.go:117-147, metastore/common/model.go:128-151)
    val create = post("/schema/tables", """{
      "name": "rides", "isFactTable": true,
      "columns": [
        {"name": "request_at", "type": "Uint32"},
        {"name": "ride_id", "type": "Int64"},
        {"name": "city", "type": "SmallEnum"},
        {"name": "fare", "type": "Float32"}
      ],
      "primaryKeyColumns": [1],
      "archivingSortColumns": [2]
    }""")
    assert(create.statusCode() == 200, new String(create.body()))
    assert(get("/schema/tables").body().contains("\"rides\""))

    // enum pre-registration before any ingestion (api/enum_handler.go:83-110)
    val reg = post("/schema/tables/rides/columns/city/enum-cases",
      """{"enumCases": ["sf", "nyc"]}""")
    assert(reg.statusCode() == 200)
    assert(new String(reg.body()) == "[0,1]")

    val ingest = post("/data/rides", """[
      {"request_at": 1706572800, "ride_id": 1, "city": "sf", "fare": 10.5},
      {"request_at": 1706572860, "ride_id": 2, "city": "nyc", "fare": 20.25},
      {"request_at": 1706572920, "ride_id": 3, "city": "sf", "fare": 7.75},
      {"request_at": 1706572980, "ride_id": 4, "city": "lima", "fare": 5.0}
    ]""")
    assert(ingest.statusCode() == 200, new String(ingest.body()))

    val byCity = aqlResult("""{"table": "rides",
      "measures": [{"alias": "n", "sqlExpression": "count(*)"}],
      "dimensions": [{"alias": "city", "sqlExpression": "city"}],
      "timeFilter": {"from": "1706400000"}, "now": 1706659200}""")
    assert(byCity.asInstanceOf[JObject].values ==
      Map("sf" -> 2.0, "nyc" -> 1.0, "lima" -> 1.0))

    // ingestion auto-expanded the enum dictionary with the unseen case
    assert(JsonMethods.parse(get("/schema/tables/rides/columns/city/enum-cases").body())
      == JArray(List(JString("sf"), JString("nyc"), JString("lima"))))

    // unknown enum case in a filter matches NOTHING (no error) — the
    // reference's enum sentinel semantics
    val unknown = aqlResult("""{"table": "rides",
      "measures": [{"alias": "n", "sqlExpression": "count(*)"}],
      "dimensions": [{"alias": "city", "sqlExpression": "city"}],
      "rowFilters": ["city = 'atlantis'"],
      "timeFilter": {"from": "1706400000"}, "now": 1706659200}""")
    assert(unknown == JObject())
  }

  test("schema mutation: add column surfaces as null, delete column hides it") {
    val add = post("/schema/tables/rides/columns",
      """{"name": "tip", "type": "Float32", "addToArchivingSortOrder": false}""")
    assert(add.statusCode() == 200, add.body())

    val tips = aqlResult("""{"table": "rides",
      "measures": [{"alias": "n", "sqlExpression": "count(*)"}],
      "dimensions": [{"alias": "has_tip", "sqlExpression": "tip is null"}],
      "timeFilter": {"from": "1706400000"}, "now": 1706659200}""")
    // pre-existing rows: the added column reads NULL everywhere
    assert(tips.asInstanceOf[JObject].values == Map("1" -> 4.0))

    // ingestion AFTER the column add must keep the new column's values —
    // the batch schema reconciles to the CURRENT table schema, not the
    // pre-add overlay snapshot
    val withTip = post("/data/rides", """[
      {"request_at": 1706573100, "ride_id": 5, "city": "sf", "fare": 3.0, "tip": 2.5}]""")
    assert(withTip.statusCode() == 200, new String(withTip.body()))
    val tipSum = aqlResult("""{"table": "rides",
      "measures": [{"alias": "s", "sqlExpression": "sum(tip)"}],
      "timeFilter": {"from": "1706400000"}, "now": 1706659200}""")
    assert((tipSum \ "s").extract[Double](DefaultFormats, manifest[Double]) == 2.5,
      s"tip value dropped: $tipSum")

    val del = delete("/schema/tables/rides/columns/fare")
    assert(del.statusCode() == 200)
    // deleted column stays as a placeholder in the schema (model.go:46-47)...
    val schema = JsonMethods.parse(get("/schema/tables/rides").body())
    val fare = (schema \ "columns").asInstanceOf[JArray].arr
      .find(c => (c \ "name") == JString("fare")).get
    assert((fare \ "deleted") == JBool(true))
    // ...and queries no longer resolve it
    val resp = post("/query/aql", """{"queries": [{"table": "rides",
      "measures": [{"alias": "s", "sqlExpression": "sum(fare)"}],
      "timeFilter": {"from": "1706400000"}, "now": 1706659200}]}""")
    assert((JsonMethods.parse(new String(resp.body())) \ "errors") != JNull)

    // column config update bumps the version
    implicit val fmts: Formats = DefaultFormats
    val v0 = (schema \ "version").extract[Int]
    val upd = put("/schema/tables/rides/columns/tip", """{"priority": 5}""")
    assert(upd.statusCode() == 200)
    assert((JsonMethods.parse(upd.body()) \ "version").extract[Int] == v0 + 1)
    // the reference's nested config form; both knobs survive a read-back
    val cfg = put("/schema/tables/rides/columns/tip",
      """{"config": {"preloadingDays": 1, "priority": 7}}""")
    assert(cfg.statusCode() == 200, cfg.body())
    val readBack = get("/schema/tables/rides").body()
    assert(readBack.contains(""""preloadingDays":1""") &&
      readBack.contains(""""priority":7"""), readBack)
  }

  test("drain folds the live overlay into a day-partitioned archive") {
    val n0 = aqlResult("""{"table": "rides",
      "measures": [{"alias": "n", "sqlExpression": "count(*)"}],
      "timeFilter": {"from": "1706400000"}, "now": 1706659200}""")

    val dir = java.nio.file.Files.createTempDirectory("graft_drain").toString
    server.drain("rides", dir)

    // the archive took the live rows, day-partitioned
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(dir)).toArray
      .exists(_.toString.contains("day=2024-01-30")))
    // queries answer identically from the archive scan path
    val n1 = aqlResult("""{"table": "rides",
      "measures": [{"alias": "n", "sqlExpression": "count(*)"}],
      "timeFilter": {"from": "1706400000"}, "now": 1706659200}""")
    assert(n1 == n0, s"$n0 -> $n1")
    // and new ingestion layers a fresh overlay over the archive —
    // NEXT-day rows, so the incremental drain below touches only day 31;
    // the schema ALSO evolves between drains (surge added after the first
    // drain), so the backfill must reconcile against the older archive
    val ingest = post("/data/rides",
      """[{"request_at": 1706659300, "ride_id": 9, "city": "sf", "fare": 1.0}]""")
    assert(ingest.statusCode() == 200, new String(ingest.body()))
    assert(post("/schema/tables/rides/columns",
      """{"name": "surge", "type": "Float32"}""").statusCode() == 200)
    assert(post("/data/rides", """[{"request_at": 1706659400, "ride_id": 10,
      "city": "nyc", "fare": 2.0, "tip": 0.5, "surge": 1.5}]""").statusCode() == 200)
    val n2 = aqlResult("""{"table": "rides",
      "measures": [{"alias": "n", "sqlExpression": "count(*)"}],
      "timeFilter": {"from": "1706400000"}, "now": 1706999999}""")
    implicit val fmts: Formats = DefaultFormats
    assert((n2 \ "n").extract[Double] == (n0 \ "n").extract[Double] + 2)

    // SECOND drain: incremental — only the delta's day is written, the
    // first day's files stay byte-stable (no full-archive rewrite)
    val day30 = java.nio.file.Paths.get(s"$dir/day=2024-01-30")
    val mtimeBefore = java.nio.file.Files.list(day30).toArray
      .map(p => java.nio.file.Files.getLastModifiedTime(
        p.asInstanceOf[java.nio.file.Path]).toMillis).sorted.toSeq
    server.drain("rides", dir)
    val mtimeAfter = java.nio.file.Files.list(day30).toArray
      .map(p => java.nio.file.Files.getLastModifiedTime(
        p.asInstanceOf[java.nio.file.Path]).toMillis).sorted.toSeq
    assert(mtimeAfter == mtimeBefore, "first day rewritten by incremental drain")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/day=2024-01-31")), "delta day not promoted")
    val n3 = aqlResult("""{"table": "rides",
      "measures": [{"alias": "n", "sqlExpression": "count(*)"}],
      "timeFilter": {"from": "1706400000"}, "now": 1706999999}""")
    assert(n3 == n2, s"$n2 -> $n3")
    // the evolved column survived the backfill; archived pre-surge rows
    // reconcile as nulls
    val surge = aqlResult("""{"table": "rides",
      "measures": [{"alias": "s", "sqlExpression": "sum(surge)"}],
      "timeFilter": {"from": "1706400000"}, "now": 1706999999}""")
    assert((surge \ "s").extract[Double](DefaultFormats, manifest[Double]) == 1.5)
  }

  test("HTTP-ingested rows survive a restart via the upsert journal; drain truncates it") {
    val jdir = java.nio.file.Files.createTempDirectory("graft_journal").toString
    def mk(): GraftServer = {
      val s = new GraftServer(Catalog.testdata(sfDir), spark, journalDir = Some(jdir))
      s.start()
      s
    }
    def postTo(port: Int, path: String, body: String) =
      client.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofByteArray())
    def countDocs(port: Int): Double = {
      val resp = postTo(port, "/query/aql",
        """{"queries": [{"table": "documents",
             "measures": [{"alias": "n", "sqlExpression": "count(*)"}]}]}""")
      implicit val fmts: Formats = DefaultFormats
      (JsonMethods.parse(new String(resp.body())) \ "results")(0)
        .asInstanceOf[JObject].values("n").asInstanceOf[Double]
    }

    val s1 = mk()
    val before = countDocs(s1.boundPort)
    val ing = postTo(s1.boundPort, "/data/documents", """[
      {"doc_id": 9100001, "text": "journal one", "lang": "en", "source": "j", "n_chars": 11},
      {"doc_id": 9100002, "text": "journal two", "lang": "en", "source": "j", "n_chars": 11}
    ]""")
    assert(ing.statusCode() == 200, new String(ing.body()))
    assert(countDocs(s1.boundPort) == before + 2)
    // "crash": the overlay only ever lived in memory; stop() without drain
    s1.stop()

    // rebuild on the same journal dir — replay restores the overlay
    val s2 = mk()
    assert(countDocs(s2.boundPort) == before + 2,
      "journal replay must restore HTTP-ingested rows after a restart")

    // a torn tail (crash mid-append) must not poison recovery
    val logFile = java.nio.file.Paths.get(jdir, "documents.redolog")
    assert(java.nio.file.Files.exists(logFile), "journal file missing")
    java.nio.file.Files.write(logFile, Array[Byte](0x5E, 0x00),
      java.nio.file.StandardOpenOption.APPEND)
    s2.stop()
    val s2b = mk()
    assert(countDocs(s2b.boundPort) == before + 2,
      "replay must stop at the torn tail, keeping the clean prefix")

    // drain persists the overlay durably and truncates the journal
    val archive = java.nio.file.Files.createTempDirectory("graft_jdrain").toString
    s2b.drain("documents", archive)
    assert(!java.nio.file.Files.exists(logFile),
      "a successful drain must truncate the table's journal")
    s2b.stop()
    val s3 = mk()
    assert(countDocs(s3.boundPort) == before + 2,
      "post-drain restart serves from the archive, nothing double-applies")
    s3.stop()
  }

  test("Kafka-backed journal: WAL survives machine loss — a replacement member replays the topic") {
    // The file journal dies with its host; the reference's second redo
    // backend (redolog/kafka.go) puts the WAL on the brokers. FakeTopic
    // models the broker side of the [[graft.ingest.RedoTopic]] wire:
    // offset-addressed atomic records + a consumer-group committed
    // offset, both OUTLIVING every server instance in this test — that
    // is the machine-loss survivability under test, not Kafka's own
    // durability.
    final class FakeTopic extends graft.ingest.RedoTopic {
      private var records = Vector.empty[Array[Byte]]
      private var committedOff = 0L
      def append(value: Array[Byte]): Long =
        synchronized { records :+= value; records.length - 1L }
      def readFrom(from: Long): Seq[(Long, Array[Byte])] = synchronized {
        records.zipWithIndex.drop(from.toInt)
          .map { case (v, i) => (i.toLong, v) } }
      def endOffset: Long = synchronized(records.length.toLong)
      def committed: Long = synchronized(committedOff)
      def commit(offset: Long): Unit = synchronized { committedOff = offset }
    }
    val brokers = scala.collection.concurrent.TrieMap.empty[String, FakeTopic]
    // the drained-state record still lives in a metastore dir (only the
    // per-batch WAL moves to the topic) — the documented deployment
    val jdir = java.nio.file.Files.createTempDirectory("graft_kjournal").toString
    def mk(): GraftServer = {
      val rl = new graft.ingest.KafkaRedoLog(
        t => brokers.getOrElseUpdate(t, new FakeTopic),
        () => Seq("documents"))
      val s = new GraftServer(Catalog.testdata(sfDir), spark,
        journalDir = Some(jdir), redoLog = Some(rl))
      s.start()
      s
    }
    def postTo(port: Int, path: String, body: String) =
      client.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofByteArray())
    def countDocs(port: Int): Double = {
      val resp = postTo(port, "/query/aql",
        """{"queries": [{"table": "documents",
             "measures": [{"alias": "n", "sqlExpression": "count(*)"}]}]}""")
      implicit val fmts: Formats = DefaultFormats
      (JsonMethods.parse(new String(resp.body())) \ "results")(0)
        .asInstanceOf[JObject].values("n").asInstanceOf[Double]
    }

    val a = mk()
    val before = countDocs(a.boundPort)
    val ing = postTo(a.boundPort, "/data/documents", """[
      {"doc_id": 9200001, "text": "kafka wal one", "lang": "en", "source": "k", "n_chars": 13},
      {"doc_id": 9200002, "text": "kafka wal two", "lang": "en", "source": "k", "n_chars": 13}
    ]""")
    assert(ing.statusCode() == 200, new String(ing.body()))
    assert(countDocs(a.boundPort) == before + 2)
    // the WAL is on the brokers, NOT on member a's disk
    assert(brokers("documents").endOffset == 1L, "batch must be on the topic")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(jdir, "documents.redolog")),
      "no file WAL may exist — the injected redo log owns the journal")
    // machine loss before any drain: the host (and its memory) is gone
    a.stop()

    // a REPLACEMENT member on a fresh host replays the topic from the
    // committed offset and answers identically
    val b = mk()
    assert(countDocs(b.boundPort) == before + 2,
      "replacement member must replay the topic and serve the dead member's overlay")

    // drain archives the overlay and truncates by OFFSET COMMIT on the
    // brokers — a third member replays nothing yet still answers from
    // the archive (drained-state record)
    val archive = java.nio.file.Files.createTempDirectory("graft_kdrain").toString
    b.drain("documents", archive)
    assert(brokers("documents").committed == brokers("documents").endOffset,
      "drain must advance the consumer-group offset to end")
    b.stop()
    val c = mk()
    assert(countDocs(c.boundPort) == before + 2,
      "post-drain replacement serves from the archive, nothing double-applies")
    c.stop()
  }

  test("Kafka redo log: adversarial transport — duplicates and interleaved order replay exactly-once, a compacted gap fails loudly") {
    // what a REAL consumer can hand back: multi-partition polls interleave
    // (order), broker redeliveries duplicate, and a misconfigured
    // compacted/retention-aged redo topic drops records. The first two
    // must replay to the exact produced state; the third is unrecoverable
    // WAL loss and must fail loudly, never serve short.
    final class AdversarialTopic(dropOffset: Long = -1L)
        extends graft.ingest.RedoTopic {
      private var records = Vector.empty[Array[Byte]]
      private var committedOff = 0L
      def append(value: Array[Byte]): Long =
        synchronized { records :+= value; records.length - 1L }
      def readFrom(from: Long): Seq[(Long, Array[Byte])] = synchronized {
        val base = records.zipWithIndex.drop(from.toInt)
          .map { case (v, i) => (i.toLong, v) }
          .filter { case (o, _) => o != dropOffset }
        // reversed + the first record duplicated: worst legal-ish poll
        base.reverse ++ base.headOption.toSeq
      }
      def endOffset: Long = synchronized(records.length.toLong)
      def committed: Long = synchronized(committedOff)
      def commit(offset: Long): Unit = synchronized { committedOff = offset }
    }

    // ---- duplicates + reorder: exactly-once, LATEST version wins --------
    val brokers = scala.collection.concurrent.TrieMap.empty[String, AdversarialTopic]
    val jdir = java.nio.file.Files.createTempDirectory("graft_kadv").toString
    def mk(): GraftServer = {
      val rl = new graft.ingest.KafkaRedoLog(
        t => brokers.getOrElseUpdate(t, new AdversarialTopic()),
        () => Seq("documents"))
      val s = new GraftServer(Catalog.testdata(sfDir), spark,
        journalDir = Some(jdir), redoLog = Some(rl))
      s.start()
      s
    }
    def postTo(port: Int, path: String, body: String) =
      client.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofByteArray())
    def docState(port: Int): (Double, Double) = {
      implicit val fmts: Formats = DefaultFormats
      def one(measure: String): Double = {
        val resp = postTo(port, "/query/aql",
          s"""{"queries": [{"table": "documents",
               "measures": [{"alias": "v", "sqlExpression": "$measure"}],
               "rowFilters": ["doc_id = 9300001"]}]}""")
        (JsonMethods.parse(new String(resp.body())) \ "results")(0)
          .asInstanceOf[JObject].values("v").asInstanceOf[Double]
      }
      (one("count(*)"), one("sum(n_chars)"))
    }
    val a = mk()
    // two batches UPDATING the same PK: apply order decides the survivor,
    // so a reversed replay would resurrect version 1
    assert(postTo(a.boundPort, "/data/documents", """[
      {"doc_id": 9300001, "text": "v1", "lang": "en", "source": "k", "n_chars": 1}
    ]""").statusCode() == 200)
    assert(postTo(a.boundPort, "/data/documents", """[
      {"doc_id": 9300001, "text": "v2", "lang": "en", "source": "k", "n_chars": 2}
    ]""").statusCode() == 200)
    assert(docState(a.boundPort) == ((1.0, 2.0)))
    a.stop() // machine loss, no drain

    val b = mk() // replacement replays the duplicated+reversed poll
    assert(docState(b.boundPort) == ((1.0, 2.0)),
      "replay must dedup by offset and apply in offset order — " +
        "exactly one row, the LATEST version")
    b.stop()

    // ---- compacted gap: loud failure, never a short serve ---------------
    val gapTopic = new AdversarialTopic(dropOffset = 0L)
    gapTopic.append(Array[Byte](1, 2, 3))
    gapTopic.append(Array[Byte](4, 5, 6))
    val rl = new graft.ingest.KafkaRedoLog(_ => gapTopic, () => Seq("documents"))
    val e = intercept[IllegalStateException](rl.replay("documents"))
    assert(e.getMessage.contains("lost records"), e.getMessage)
  }

  test("Kafka source contract: the shaped-ingest schema equals the documented 7-column kafka wire") {
    // KafkaShapedIngest hand-writes the schema format("kafka") emits; in
    // the zero-egress sandbox the connector jar is absent, so the pin is
    // this literal-vs-literal assertion plus the decode path driven
    // through the EXACT shape (KafkaShapedIngestSpec). See the
    // sourceSchema scaladoc for the behaviors that remain untestable here.
    import org.apache.spark.sql.types._
    val want = Seq(
      ("key", BinaryType), ("value", BinaryType), ("topic", StringType),
      ("partition", IntegerType), ("offset", LongType),
      ("timestamp", TimestampType), ("timestampType", IntegerType))
    val got = graft.streaming.KafkaShapedIngest.sourceSchema.fields
    assert(got.length == want.length)
    got.zip(want).foreach { case (f, (n, t)) =>
      assert(f.name == n && f.dataType == t && f.nullable,
        s"field ${f.name}: expected $n/$t/nullable, got ${f.dataType}/${f.nullable}")
    }
  }

  test("Kafka redo log: size is a maintained counter, never a topic re-read") {
    // size() sits on the ingest hot path (the rotation bound checks it
    // after every batch); deriving it from readFrom(committed) would
    // fetch the whole un-truncated backlog from the brokers per request.
    // This pins the contract: one seed read per table, then append/
    // truncate maintain the counter with ZERO further topic reads.
    final class CountingTopic extends graft.ingest.RedoTopic {
      private var records = Vector.empty[Array[Byte]]
      private var committedOff = 0L
      var reads = 0
      def append(value: Array[Byte]): Long =
        synchronized { records :+= value; records.length - 1L }
      def readFrom(from: Long): Seq[(Long, Array[Byte])] = synchronized {
        reads += 1
        records.zipWithIndex.drop(from.toInt)
          .map { case (v, i) => (i.toLong, v) } }
      def endOffset: Long = synchronized(records.length.toLong)
      def committed: Long = synchronized(committedOff)
      def commit(offset: Long): Unit = synchronized { committedOff = offset }
    }
    val topic = new CountingTopic
    // a prior incarnation leaves a backlog on the brokers
    val writer = new graft.ingest.KafkaRedoLog(_ => topic, () => Seq("t"))
    writer.append("t", 1.toByte, Array[Byte](1, 2, 3))
    writer.append("t", 1.toByte, Array[Byte](4, 5))
    // a replacement member seeds its counter from that backlog ONCE
    val rl = new graft.ingest.KafkaRedoLog(_ => topic, () => Seq("t"))
    val reads0 = topic.reads
    assert(rl.size("t") == (3 + 1) + (2 + 1), "size = backlog value bytes")
    assert(topic.reads == reads0 + 1, "first size() seeds with one read")
    rl.append("t", 1.toByte, Array[Byte](9))
    assert(rl.size("t") == 4 + 3 + 2, "append maintains the counter")
    rl.truncate("t")
    assert(rl.size("t") == 0L, "truncate resets the counter")
    assert(topic.reads == reads0 + 1,
      s"append/size/truncate must not re-read the topic (reads=${topic.reads})")
    assert(rl.replay("t").isEmpty, "post-truncate replay is empty")
  }

  test("journal rotation: sustained ingest with no scheduler tick keeps the journal bounded") {
    val jdir = java.nio.file.Files.createTempDirectory("graft_jrot").toString
    val limit = 1500L
    def mk(): GraftServer = {
      val s = new GraftServer(Catalog.testdata(sfDir), spark,
        journalDir = Some(jdir), journalByteLimit = limit)
      s.start()
      s
    }
    def postTo(port: Int, path: String, body: String) =
      client.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofByteArray())
    def countDocs(port: Int): Double = {
      val resp = postTo(port, "/query/aql",
        """{"queries": [{"table": "documents",
             "measures": [{"alias": "n", "sqlExpression": "count(*)"}],
             "rowFilters": ["doc_id >= 9300000"]}]}""")
      implicit val fmts: Formats = DefaultFormats
      (JsonMethods.parse(new String(resp.body())) \ "results")(0)
        .asInstanceOf[JObject].values("n").asInstanceOf[Double]
    }
    val logFile = java.nio.file.Paths.get(jdir, "documents.redolog")
    val s1 = mk()
    val batches = 8
    (0 until batches).foreach { b =>
      val body = (0 until 2).map { i =>
        val id = 9300000 + b * 10 + i
        s"""{"doc_id": $id, "text": "rotation batch $b doc $i padded to force growth xxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxx", "lang": "en", "source": "rot", "n_chars": 40}"""
      }.mkString("[", ",", "]")
      val r = postTo(s1.boundPort, "/data/documents", body)
      assert(r.statusCode() == 200, new String(r.body()))
      // the bound holds continuously: one batch may land before the
      // rotation check fires, never more
      val sz = if (java.nio.file.Files.exists(logFile))
        java.nio.file.Files.size(logFile) else 0L
      assert(sz <= limit + body.length + 9,
        s"journal grew to $sz bytes against a $limit-byte bound")
    }
    assert(countDocs(s1.boundPort) == batches * 2.0,
      "every ingested row must stay queryable through rotations")
    // rotations happened (the ingest volume exceeds the bound several
    // times over) and the drain target archived the rows durably:
    // a restart on the same journal dir replays only the bounded tail
    s1.stop()
    val s2 = mk()
    assert(countDocs(s2.boundPort) == batches * 2.0,
      "restart after rotations must lose nothing: archive + journal tail")
    s2.stop()
  }

  test("binary upsert batches replay from the journal with the synced schema") {
    // full restart durability = schema (SchemaSync) + data (UpsertJournal):
    // a created table's BINARY wire batches must survive a rebuild — the
    // replay path re-decodes them through the pulled enum dictionaries
    val jdir = java.nio.file.Files.createTempDirectory("graft_binj").toString
    val schemaDir = java.nio.file.Files.createTempDirectory("graft_binschema").toString
    def mk(): GraftServer = {
      val s = new GraftServer(Catalog.testdata(sfDir), spark,
        schemaSyncDir = Some(schemaDir), journalDir = Some(jdir))
      s.start()
      s
    }
    def postTo(port: Int, path: String, body: String) =
      client.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofByteArray())
    def fares(port: Int): Map[String, Any] = {
      val resp = postTo(port, "/query/aql", """{"queries": [{"table": "jr_rides",
        "measures": [{"alias": "total", "sqlExpression": "sum(fare)"}],
        "dimensions": [{"alias": "city", "sqlExpression": "city"}],
        "timeFilter": {"from": "1706400000"}, "now": 1706659200}]}""")
      (JsonMethods.parse(new String(resp.body())) \ "results")(0)
        .asInstanceOf[JObject].values
    }

    val s1 = mk()
    assert(postTo(s1.boundPort, "/schema/tables", """{
      "name": "jr_rides", "isFactTable": true,
      "columns": [
        {"name": "request_at", "type": "Uint32"},
        {"name": "ride_id", "type": "Int64"},
        {"name": "city", "type": "SmallEnum"},
        {"name": "fare", "type": "Float32"},
        {"name": "stops", "type": "Int32[]"}
      ],
      "primaryKeyColumns": [1]
    }""").statusCode() == 200)
    val wire = new UpsertClient(s"http://localhost:${s1.boundPort}")
    assert(wire.insert("jr_rides",
      Seq("request_at", "ride_id", "city", "fare", "stops"),
      Seq(
        Seq(1706572800L, 1L, "sf", 10.5f, Seq(10, 20)),
        Seq(1706572860L, 2L, "nyc", 2.0f, null),
        Seq(1706572920L, 3L, "sf", 1.0f, Seq.empty[Int]))) == 3L)
    def firstStops(port: Int): Map[String, Any] = {
      val resp = postTo(port, "/query/aql", """{"queries": [{"table": "jr_rides",
        "measures": [{"alias": "s", "sqlExpression": "sum(element_at(stops, 0))"}],
        "dimensions": [{"alias": "n", "sqlExpression": "length(stops)"}],
        "timeFilter": {"from": "1706400000"}, "now": 1706659200}]}""")
      (JsonMethods.parse(new String(resp.body())) \ "results")(0)
        .asInstanceOf[JObject].values
    }
    assert(fares(s1.boundPort) == Map("sf" -> 11.5, "nyc" -> 2.0))
    val stopsBefore = firstStops(s1.boundPort)
    assert(stopsBefore.get("2").contains(10.0) && stopsBefore.contains("0"),
      s"pre-crash array state unexpected: $stopsBefore")
    s1.stop() // crash: overlay in memory only; journal holds binary records

    val s2 = mk()
    assert(fares(s2.boundPort) == Map("sf" -> 11.5, "nyc" -> 2.0),
      "binary journal records must replay through the synced enum dictionaries")
    // the ARRAY vector parties replay too: null row, empty array and
    // values all intact after the rebuild — compared against the
    // PRE-CRASH answer
    assert(firstStops(s2.boundPort) == stopsBefore,
      s"array wire replay mismatch: ${firstStops(s2.boundPort)} vs $stopsBefore")
    s2.stop()
  }

  test("created-table GeoPoint and strict-enum storage semantics") {
    val create = post("/schema/tables", """{
      "name": "places", "isFactTable": false,
      "columns": [
        {"name": "place_id", "type": "Int64"},
        {"name": "loc", "type": "GeoPoint"},
        {"name": "kind", "type": "SmallEnum", "caseInsensitive": true,
         "disableAutoExpand": true}
      ],
      "primaryKeyColumns": [0]
    }""")
    assert(create.statusCode() == 200, new String(create.body()))
    post("/schema/tables/places/columns/kind/enum-cases", """{"enumCases": ["cafe"]}""")

    // WKT text ingests into the (lat, lng) struct representation; the
    // case-insensitive enum lowercases; the unseen case (auto-expansion
    // disabled) stores NULL
    val ingest = post("/data/places", """[
      {"place_id": 1, "loc": "Point(5.5, 3.5)", "kind": "CAFE"},
      {"place_id": 2, "loc": "Point(-1.0, 2.0)", "kind": "speakeasy"}]""")
    assert(ingest.statusCode() == 200, new String(ingest.body()))

    // geo literal coercion works end to end on the created table
    val atPoint = aqlResult("""{"table": "places",
      "measures": [{"alias": "n", "sqlExpression": "count(*)"}],
      "rowFilters": ["loc = 'point(5.5,3.5)'"]}""")
    implicit val fmts: Formats = DefaultFormats
    assert((atPoint \ "n").extract[Double] == 1.0, s"geo literal missed: $atPoint")
    // lowercased enum matches; the unseen case stored NULL so nothing matches
    assert((aqlResult("""{"table": "places",
      "measures": [{"alias": "n", "sqlExpression": "count(*)"}],
      "rowFilters": ["kind = 'cafe'"]}""") \ "n").extract[Double] == 1.0)
    assert(aqlResult("""{"table": "places",
      "measures": [{"alias": "n", "sqlExpression": "count(*)"}],
      "dimensions": [{"alias": "k", "sqlExpression": "kind"}],
      "rowFilters": ["kind = 'speakeasy'"]}""") == JObject())
    // the dictionary was NOT extended
    assert(JsonMethods.parse(get("/schema/tables/places/columns/kind/enum-cases").body())
      == JArray(List(JString("cafe"))))
    // a MIXED-CASE pre-registered case matches lowercased ingest values on
    // a caseInsensitive column (dictionary folds for the membership test)
    post("/schema/tables/places/columns/kind/enum-cases", """{"enumCases": ["TeaHouse"]}""")
    assert(post("/data/places",
      """[{"place_id": 4, "loc": "Point(0.5, 0.5)", "kind": "TEAHOUSE"}]""")
      .statusCode() == 200)
    assert((aqlResult("""{"table": "places",
      "measures": [{"alias": "n", "sqlExpression": "count(*)"}],
      "rowFilters": ["kind = 'teahouse'"]}""") \ "n").extract[Double] == 1.0)
    // malformed WKT at ingestion is rejected
    assert(post("/data/places",
      """[{"place_id": 3, "loc": "Point(oops)", "kind": "cafe"}]""").statusCode() == 400)
  }

  test("DELETE table drops all layered state — a recreated table starts empty") {
    val del = delete("/schema/tables/rides")
    assert(del.statusCode() == 200)
    val recreate = post("/schema/tables", """{
      "name": "rides", "isFactTable": true,
      "columns": [{"name": "request_at", "type": "Uint32"},
                  {"name": "ride_id", "type": "Int64"}],
      "primaryKeyColumns": [1]
    }""")
    assert(recreate.statusCode() == 200, new String(recreate.body()))
    // no inherited overlay, drained archive, or pending delta
    val n = aqlResult("""{"table": "rides",
      "measures": [{"alias": "n", "sqlExpression": "count(*)"}],
      "timeFilter": {"from": "0"}, "now": 1706999999}""")
    implicit val fmts: Formats = DefaultFormats
    assert((n \ "n").extract[Double] == 0.0, s"recreated table not empty: $n")
  }

  test("GET /openapi.json is a valid OpenAPI document covering every mounted route") {
    val resp = get("/openapi.json")
    assert(resp.statusCode() == 200)
    val doc = JsonMethods.parse(resp.body())
    assert((doc \ "openapi") == JString("3.0.3"))
    val JObject(paths) = (doc \ "paths"): @unchecked
    assert(paths.nonEmpty)
    // every context path the server actually mounts is described
    val missing = server.routes.filterNot(OpenApi.covers)
    assert(missing.isEmpty, s"undocumented routes: $missing")
    // and every documented operation carries a summary
    paths.foreach { case (p, JObject(fields)) =>
      fields.collect { case (m, op) if m != "parameters" =>
        assert((op \ "summary") != JNothing, s"$p $m has no summary")
      }
    case (p, other) => fail(s"$p: $other")
    }
  }

  test("no batch is lost when ingest races a drain: journal append+apply are atomic") {
    // The WAL checkpoint race: a drain that interleaves between a batch's
    // journal append and its overlay apply would persist an overlay WITHOUT
    // the batch yet truncate its journal record — the batch durable nowhere
    // until the next drain. The handler closes this by journaling and
    // applying under one table-lock critical section; this test hammers
    // ingest from several client threads with drains interleaved, then
    // "crashes" (stop without drain) and rebuilds: every row must survive
    // via either the archive or the replayed journal.
    val jdir = java.nio.file.Files.createTempDirectory("graft_jrace").toString
    val archive = java.nio.file.Files.createTempDirectory("graft_jrace_arch").toString
    def mk(): GraftServer = {
      val s = new GraftServer(Catalog.testdata(sfDir), spark, journalDir = Some(jdir))
      s.start()
      s
    }
    def postTo(port: Int, body: String) =
      client.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port/data/documents"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofByteArray())
    def countMine(port: Int): Double = {
      val resp = client.send(HttpRequest.newBuilder(
        URI.create(s"http://localhost:$port/query/aql"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"queries": [{"table": "documents",
               "measures": [{"alias": "n", "sqlExpression": "count(*)"}],
               "rowFilters": ["source = 'jrace'"]}]}""")).build(),
        HttpResponse.BodyHandlers.ofString())
      implicit val fmts: Formats = DefaultFormats
      (JsonMethods.parse(resp.body()) \ "results")(0)
        .asInstanceOf[JObject].values("n").asInstanceOf[Double]
    }

    val s1 = mk()
    val port = s1.boundPort
    val threads = 3
    val batches = 6
    val failures = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads + 1)
    val done = new java.util.concurrent.CountDownLatch(threads)
    (0 until threads).foreach { t =>
      pool.execute { () =>
        try {
          (0 until batches).foreach { b =>
            val id = 9200000 + t * 1000 + b
            val r = postTo(port, s"""[{"doc_id": $id, "text": "race $t $b",
              "lang": "en", "source": "jrace", "n_chars": 8}]""")
            if (r.statusCode() != 200) failures.incrementAndGet()
          }
        } finally done.countDown()
      }
    }
    // drains interleave with the ingest storm
    pool.execute { () =>
      while (done.getCount > 0) {
        s1.drain("documents", archive)
        Thread.sleep(20)
      }
    }
    assert(done.await(120, java.util.concurrent.TimeUnit.SECONDS), "ingest storm hung")
    pool.shutdown()
    assert(pool.awaitTermination(30, java.util.concurrent.TimeUnit.SECONDS))
    assert(failures.get() == 0, s"${failures.get()} ingest batches failed")
    assert(countMine(port) == threads * batches, "pre-crash visibility")
    s1.stop() // crash: whatever was not drained lives only in the journal

    val s2 = mk()
    assert(countMine(s2.boundPort) == threads * batches,
      "archive + journal replay must cover every raced batch — a batch whose " +
        "journal record was truncated by an interleaved drain before its " +
        "overlay apply would be lost here")
    s2.stop()
  }
}
