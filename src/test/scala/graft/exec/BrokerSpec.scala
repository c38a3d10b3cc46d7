package graft.exec

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.SparkSpec
import graft.api.GraftServer
import graft.aql.Catalog
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Broker scatter-gather: two embedded GraftServer instances each serve a
  * DISJOINT DAY RANGE of the events fact table (the reference's shard
  * deployment shape); the broker fans one AQL query over both and merges
  * partials. Every merged result must equal the single-instance answer
  * over the whole table — sum/count add, min/max compare, avg via
  * sum + count(arg) components, HLL via register-max over binary sketch
  * bodies.
  */
class BrokerSpec extends SparkSpec {

  private val Split = "2024-01-15"

  private def sliced(lower: Boolean): Catalog =
    slicedBetween(if (lower) None else Some(Split),
      if (lower) Some(Split) else None)

  /** Catalog serving only events with day in [from, to). */
  private def slicedBetween(from: Option[String], to: Option[String]): Catalog = {
    val base = Catalog.testdata(sfDir)
    val ev = base.tables("events")
    val day = col(graft.ingest.Archiver.DayCol)
    val pred = (from.map(day >= lit(_)).toSeq ++ to.map(day < lit(_)))
      .reduceOption(_ && _).getOrElse(lit(true))
    base.copy(tables = base.tables +
      ("events" -> ev.copy(load = s => ev.load(s).where(pred))))
  }

  private lazy val serverA = { val s = new GraftServer(sliced(lower = true), spark); s.start(); s }
  private lazy val serverB = { val s = new GraftServer(sliced(lower = false), spark); s.start(); s }
  private lazy val whole = { val s = new GraftServer(Catalog.testdata(sfDir), spark); s.start(); s }
  private lazy val broker = new Broker(Seq(
    s"http://localhost:${serverA.boundPort}",
    s"http://localhost:${serverB.boundPort}"))

  private val client = HttpClient.newHttpClient()

  private def singleAnswer(queryJson: String, port: => Int = whole.boundPort): JValue = {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(
        s"http://localhost:$port/query/aql"))
        .POST(HttpRequest.BodyPublishers.ofString(s"""{"queries": [$queryJson]}"""))
        .build(),
      HttpResponse.BodyHandlers.ofString())
    assert(resp.statusCode() == 200, resp.body())
    (JsonMethods.parse(resp.body()) \ "results") (0)
  }

  /** Key-order-insensitive, numeric-type-insensitive comparison form. */
  private def normalize(v: JValue): Any = v match {
    case JObject(fields) =>
      fields.map { case (k, c) => k -> normalize(c) }.sortBy(_._1)
    case JArray(vs) => vs.map(normalize)
    case JDouble(d) => d
    case JInt(i) => i.toDouble
    case JLong(l) => l.toDouble
    case JDecimal(d) => d.toDouble
    case other => other
  }

  /** Structural equality with relative tolerance on numeric leaves: a
    * distributed fold sums partials in a different order than the
    * single-node aggregate, so double measures may differ in the last ulp
    * (true of the reference's float64 merge too). Shape, keys, and
    * integral leaves must match exactly.
    */
  private def close(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
    case (xs: List[_], ys: List[_]) =>
      xs.length == ys.length && xs.zip(ys).forall { case (x, y) => close(x, y) }
    case ((kx: String, vx), (ky: String, vy)) => kx == ky && close(vx, vy)
    case (x, y) => x == y
  }

  private def assertClose(merged: JValue, expected: JValue, hint: String): Unit =
    assert(close(normalize(merged), normalize(expected)),
      s"$hint diverged:\n  merged:   ${JsonMethods.compact(JsonMethods.render(merged))}\n" +
        s"  expected: ${JsonMethods.compact(JsonMethods.render(expected))}")

  private def query(measure: String): String =
    s"""{"table": "events",
        "measures": [{"alias": "value", "sqlExpression": "$measure"}],
        "dimensions": [{"alias": "et", "sqlExpression": "event_type"}],
        "timeFilter": {"from": "1704067200"}, "now": 1706659200}"""

  test("sum / count / min / max merge to the single-table answer") {
    Seq("sum(value)", "count(*)", "min(value)", "max(value)").foreach { m =>
      val merged = JsonMethods.parse(broker.aql(query(m)))
      val expected = singleAnswer(query(m))
      assertClose(merged, expected, s"measure $m")
      // and the scatter actually spanned both instances: each slice alone
      // must NOT reproduce the whole-table count
      if (m == "count(*)") {
        val alone = JsonMethods.parse(
          new Broker(Seq(s"http://localhost:${serverA.boundPort}")).aql(query(m)))
        assert(normalize(alone) != normalize(expected), "slice A saw all rows")
      }
    }
  }

  test("merged leaves keep the single-instance wire shape (float64 contract)") {
    // normalize() above deliberately erases numeric-type differences, so
    // pin the raw leaf types here: the wire contract is float64 measure
    // leaves (ResultShaper renders every numeric leaf via doubleValue(),
    // like the reference's float64 result values), and a client must see
    // the SAME leaf shape behind the broker as against one instance —
    // count(*) renders `199.0` on both, never integer-on-one-side.
    def leaves(v: JValue): List[JValue] = v match {
      case JObject(fields) => fields.flatMap { case (_, c) => leaves(c) }
      case other => List(other)
    }
    Seq("count(*)", "min(value)").foreach { m =>
      val merged = leaves(JsonMethods.parse(broker.aql(query(m)))).filter(_ != JNull)
      val single = leaves(singleAnswer(query(m))).filter(_ != JNull)
      assert(merged.nonEmpty && single.nonEmpty)
      def shapes(ls: List[JValue]) = ls.map(_.getClass.getSimpleName).toSet
      assert(shapes(merged) == shapes(single),
        s"$m leaf shapes diverge: broker ${shapes(merged)} vs instance ${shapes(single)}")
      assert(shapes(single) == Set("JDouble"), s"$m instance contract: ${shapes(single)}")
    }
  }

  test("avg merges through sum + count subplans") {
    val merged = JsonMethods.parse(broker.aql(query("avg(value)")))
    val expected = singleAnswer(query("avg(value)"))
    assertClose(merged, expected, "avg(value)")
  }

  test("avg skips null arguments exactly like the instance's avg") {
    // every third event's value is null: the instance's avg divides by the
    // non-null count, so a broker dividing by count(*) would shrink every
    // group's average
    def nulled(c: Catalog): Catalog = {
      val ev = c.tables("events")
      c.copy(tables = c.tables + ("events" -> ev.copy(load = s =>
        ev.load(s).withColumn("value", when(col("event_id") % 3 =!= 0, col("value"))))))
    }
    val servers = Seq(sliced(lower = true), sliced(lower = false),
      Catalog.testdata(sfDir)).map { c =>
      val s = new GraftServer(nulled(c), spark); s.start(); s
    }
    try {
      val Seq(a, b, one) = servers
      val b2 = new Broker(Seq(s"http://localhost:${a.boundPort}",
        s"http://localhost:${b.boundPort}"))
      Seq("avg(value)", "avg(value) * 2 + 1").foreach { m =>
        assertClose(JsonMethods.parse(b2.aql(query(m))),
          singleAnswer(query(m), one.boundPort), s"$m over null values")
      }
    } finally servers.foreach(_.stop())
  }

  test("derived measures decompose into per-aggregate scatters") {
    // arithmetic over aggregates is NOT a semilattice fold — the broker
    // must fan each aggregate component separately and evaluate the
    // arithmetic at the root; merging `sum/count` partials directly would
    // average the averages
    Seq(
      "sum(value) / count(*)",
      "max(value) - min(value)",
      "avg(value) * 2 + 1",
      "sum(value) / sum(value)" // one component, fanned once
    ).foreach { m =>
      val merged = JsonMethods.parse(broker.aql(query(m)))
      val expected = singleAnswer(query(m))
      assertClose(merged, expected, s"derived measure $m")
    }
    // and the decomposition matters: naive per-slice evaluation diverges
    val naive = JsonMethods.parse(new Broker(
      Seq(s"http://localhost:${serverA.boundPort}")).aql(query("sum(value) / count(*)")))
    assert(normalize(naive) != normalize(singleAnswer(query("sum(value) / count(*)"))),
      "slice A alone reproduced the whole-table ratio — fixture degenerate")
  }

  test("count(distinct) is rejected loudly with the countdistincthll pointer") {
    // per-slice exact distinct counts double-count values present in both
    // slices — the broker must refuse, never sum them
    val e = intercept[IllegalArgumentException](broker.aql(query("count(distinct user_id)")))
    assert(e.getMessage.contains("countdistincthll"), e.getMessage)
    // inside derived arithmetic too: countdistinct is not a mergeable
    // component (same policy as HLL components)
    val e2 = intercept[IllegalArgumentException](
      broker.aql(query("count(distinct user_id) / count(*)")))
    assert(e2.getMessage.contains("cannot merge"), e2.getMessage)
  }

  test("aggregate-free arithmetic measure fails loudly, not as an empty object") {
    // `2 + 3` has zero aggregate components — it must stay on the loud
    // error path (a merge over zero components would return an empty
    // JObject: a silent empty result)
    val e = intercept[IllegalArgumentException](broker.aql(query("2 + 3")))
    assert(e.getMessage.contains("cannot merge"), e.getMessage)
  }

  test("dimensionless derived measure merges to a single leaf") {
    val q = s"""{"table": "events",
        "measures": [{"alias": "rate", "sqlExpression": "sum(value) / count(*)"}],
        "timeFilter": {"from": "1704067200"}, "now": 1706659200}"""
    assertClose(JsonMethods.parse(broker.aql(q)), singleAnswer(q), "dimensionless derived")
  }

  test("dimensionless aggregate merges to a single leaf") {
    val q = s"""{"table": "events",
        "measures": [{"alias": "total", "sqlExpression": "sum(value)"}],
        "timeFilter": {"from": "1704067200"}, "now": 1706659200}"""
    assertClose(JsonMethods.parse(broker.aql(q)), singleAnswer(q), "dimensionless sum")
  }

  test("HLL merges sketch registers, not estimates") {
    val m = "countDistinctHLL(user_id)"
    val merged = JsonMethods.parse(broker.aql(query(m)))
    val expected = singleAnswer(query(m))
    // register max over disjoint slices reconstructs the whole-table
    // sketch exactly, so the estimates are identical — no tolerance needed
    assert(normalize(merged) == normalize(expected))
  }

  test("broker binary HLL equals the single-instance binary sketch") {
    val q = query("countDistinctHLL(user_id)")
    val mergedBin = broker.aqlHllBinary(graft.aql.AqlJson.parseQuery(q))
    val single = client.send(
      HttpRequest.newBuilder(URI.create(
        s"http://localhost:${whole.boundPort}/query/aql"))
        .header("Accept", "application/hll")
        .POST(HttpRequest.BodyPublishers.ofString(s"""{"queries": [$q]}"""))
        .build(),
      HttpResponse.BodyHandlers.ofByteArray())
    assert(single.statusCode() == 200)
    def decode(bytes: Array[Byte]) = RefHllWire.readResults(bytes).head match {
      case Right(b) =>
        b.rows.indices.map(r =>
          (0 until b.dataTypes.length).map(d => b.dimString(r, d).getOrElse("NULL"))
            .mkString("|") -> graft.functions.Hll.estimate(b.rows(r).registers))
          .toMap
      case Left(err) => fail(err)
    }
    // register max over disjoint slices reconstructs the whole-table
    // sketch: per-group estimates match EXACTLY, group for group
    assert(decode(mergedBin) == decode(single.body()))
  }

  test("BrokerServer front serves the AQLRequest contract over the tier") {
    val front = new BrokerServer(Seq(
      s"http://localhost:${serverA.boundPort}",
      s"http://localhost:${serverB.boundPort}"))
    front.start()
    try {
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://localhost:${front.boundPort}/query/aql"))
          .POST(HttpRequest.BodyPublishers.ofString(
            s"""{"queries": [${query("sum(value)")}, ${query("bogus(value)")}]}"""))
          .build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200, resp.body())
      val parsed = JsonMethods.parse(resp.body())
      // query 0 merges to the single-table answer; query 1's failure is
      // isolated per the AQLResponse contract
      assertClose((parsed \ "results") (0), singleAnswer(query("sum(value)")),
        "broker front sum(value)")
      assert((parsed \ "errors") (0) == JNull, resp.body())
      assert((parsed \ "errors") (1) != JNull, resp.body())
      val health = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://localhost:${front.boundPort}/health")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(health.statusCode() == 200 && health.body().contains("up"))
      // content negotiation: Accept application/hll returns the merged
      // binary sketch body over HTTP
      val bin = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://localhost:${front.boundPort}/query/aql"))
          .header("Accept", "application/hll")
          .POST(HttpRequest.BodyPublishers.ofString(
            s"""{"queries": [${query("countDistinctHLL(user_id)")}]}"""))
          .build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(bin.statusCode() == 200)
      assert(RefHllWire.readResults(bin.body()).head.isRight)
    } finally front.stop()
  }

  test("one /metrics meaning: an instance and the broker count the same requests alike") {
    val instance = new GraftServer(Catalog.testdata(sfDir), spark)
    instance.start()
    val front = new BrokerServer(Seq(
      s"http://localhost:${serverA.boundPort}",
      s"http://localhost:${serverB.boundPort}"))
    front.start()
    try Seq("instance" -> instance.boundPort, "broker" -> front.boundPort).foreach {
      case (tier, port) =>
        def send(measure: String, accept: String): Unit = {
          val resp = client.send(
            HttpRequest.newBuilder(URI.create(s"http://localhost:$port/query/aql"))
              .header("Accept", accept)
              .POST(HttpRequest.BodyPublishers.ofString(
                s"""{"queries": [${query(measure)}]}""")).build(),
            HttpResponse.BodyHandlers.ofByteArray())
          assert(resp.statusCode() == 200, s"$tier $measure: ${resp.statusCode()}")
        }
        // one good JSON query, one failing JSON query, one binary sketch
        send("sum(value)", "application/json")
        send("bogus(value)", "application/json")
        send("countDistinctHLL(user_id)", "application/hll")
        val m = JsonMethods.parse(client.send(
          HttpRequest.newBuilder(URI.create(s"http://localhost:$port/metrics")).GET().build(),
          HttpResponse.BodyHandlers.ofString()).body())
        implicit val fmts: Formats = DefaultFormats
        assert((m \ "queries").extract[Long] == 3L && (m \ "errors").extract[Long] == 1L,
          s"$tier /metrics: ${JsonMethods.compact(JsonMethods.render(m))}")
    } finally { front.stop(); instance.stop() }
  }

  test("non-agg rows concatenate with the limit re-applied") {
    val q = s"""{"table": "events",
        "measures": [{"sqlExpression": "1"}],
        "dimensions": [{"sqlExpression": "event_id"}],
        "timeFilter": {"from": "1704067200"}, "now": 1706659200, "limit": 50}"""
    val merged = JsonMethods.parse(broker.aql(q))
    val rows = (merged \ "matrixData").asInstanceOf[JArray].arr
    assert(rows.length == 50)
    // every row came from one of the slices (event_ids are unique)
    assert(rows.map(_.asInstanceOf[JArray].arr.head).distinct.length == 50)
  }

  test("sorted non-agg merges as distributed top-k in the single-instance order") {
    // ORDER BY event_id DESC LIMIT 40: each slice returns its LOCAL top-40
    // (sorts + limit pushed), the root re-sorts the concat and takes 40 —
    // which must equal the whole-table answer ROW FOR ROW (event_id is
    // unique, so the order is total and the comparison exact)
    val q = s"""{"table": "events",
        "measures": [{"sqlExpression": "1"}],
        "dimensions": [{"alias": "eid", "sqlExpression": "event_id"}],
        "sorts": [{"name": "eid", "order": "desc"}],
        "timeFilter": {"from": "1704067200"}, "now": 1706659200, "limit": 40}"""
    val merged = JsonMethods.parse(broker.aql(q))
    val expected = singleAnswer(q)
    assert((merged \ "matrixData") == (expected \ "matrixData"),
      s"sorted non-agg diverged from the single-instance order:\n" +
        s"  merged:   ${JsonMethods.compact(JsonMethods.render(merged \ "matrixData")).take(400)}\n" +
        s"  expected: ${JsonMethods.compact(JsonMethods.render(expected \ "matrixData")).take(400)}")
    // numeric, not lexicographic: descending event_ids must start at the
    // true maximum (a string sort would rank "99..." above "100...")
    val ids = (merged \ "matrixData").asInstanceOf[JArray].arr
      .map(_.asInstanceOf[JArray].arr.head.asInstanceOf[JString].s.toLong)
    assert(ids == ids.sorted.reverse && ids.length == 40)
    // an unknown sort field fails loudly instead of silently concatenating
    // — either at the instance (unresolved column) or at the broker's own
    // root-side header check, never as an unordered 200
    val bad = q.replace(""""name": "eid"""", """"name": "nope"""")
    val e = intercept[Exception](broker.aql(bad))
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(m =>
      m.contains("sort field") || m.contains("cannot be resolved")), messages(e))
  }

  // ---- replica failover (ref query_plan_agg.go:170-215 retry loop) --------

  /** A port with nothing listening: bind-then-close an ephemeral socket. */
  private def deadUrl: String = {
    val sock = new java.net.ServerSocket(0)
    val port = sock.getLocalPort
    sock.close()
    s"http://127.0.0.1:$port"
  }

  test("a flaky instance is retried until it answers") {
    // stub that 500s its first N requests, then proxies to serverA
    val failures = new java.util.concurrent.atomic.AtomicInteger(2)
    val stub = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("localhost", 0), 0)
    stub.createContext("/query/aql", exchange => {
      val body = new String(exchange.getRequestBody.readAllBytes())
      if (failures.getAndDecrement() > 0) {
        exchange.sendResponseHeaders(500, -1)
        exchange.close()
      } else {
        val resp = client.send(
          HttpRequest.newBuilder(URI.create(
            s"http://localhost:${serverA.boundPort}/query/aql"))
            .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofByteArray())
        exchange.sendResponseHeaders(resp.statusCode(), resp.body().length)
        exchange.getResponseBody.write(resp.body())
        exchange.close()
      }
    })
    stub.start()
    try {
      val flakyBroker = new Broker(Seq(
        s"http://localhost:${stub.getAddress.getPort}",
        s"http://localhost:${serverB.boundPort}"))
      val merged = JsonMethods.parse(flakyBroker.aql(query("count(*)")))
      assertClose(merged, singleAnswer(query("count(*)")), "flaky retry")
    } finally stub.stop(0)
  }

  test("a dead replica fails over to the healthy one in the same slice") {
    val failover = new Broker(Seq(
      s"$deadUrl|http://localhost:${serverA.boundPort}",
      s"http://localhost:${serverB.boundPort}"))
    val merged = JsonMethods.parse(failover.aql(query("count(*)")))
    assertClose(merged, singleAnswer(query("count(*)")), "replica failover")
  }

  test("a slice with no live replica fails after bounded trials") {
    val hopeless = new Broker(
      Seq(deadUrl, s"http://localhost:${serverB.boundPort}"),
      trials = 1)
    val e = intercept[Exception](hopeless.aql(query("count(*)")))
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("failed after 1 attempts")), messages(e))
  }

  test("a 4xx (client error) propagates without replica retries or health demotion") {
    // stub that 400s every request, counting them — a malformed query must
    // cost ONE attempt, not trials × replicas, and must not demote the host
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val stub = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("localhost", 0), 0)
    stub.createContext("/query/aql", exchange => {
      hits.incrementAndGet()
      val err = """{"error":"unknown table: nope"}""".getBytes
      exchange.sendResponseHeaders(400, err.length)
      exchange.getResponseBody.write(err)
      exchange.close()
    })
    stub.start()
    try {
      val b = new Broker(Seq(
        s"http://localhost:${stub.getAddress.getPort}|http://localhost:${stub.getAddress.getPort}",
        s"http://localhost:${serverB.boundPort}"), trials = 3)
      val e = intercept[Exception](b.aql(query("count(*)")))
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains("returned 400")), messages(e))
      // the replica pair would have allowed 6 attempts; a client error takes 1
      assert(hits.get() == 1, s"expected exactly one attempt, got ${hits.get()}")
      assert(!messages(e).exists(_.contains("failed after")), messages(e))
    } finally stub.stop(0)
  }

  test("the broker pins one now per request and passes a client's now through") {
    // stub members record every request body and answer with no rows, so
    // the case needs no clock control and no sleeps: an avg over two
    // slices scatters sum and count to each, four bodies in all
    val bodies = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def stub() = {
      val srv = com.sun.net.httpserver.HttpServer.create(
        new java.net.InetSocketAddress("localhost", 0), 0)
      srv.createContext("/query/aql", exchange => {
        bodies.add(new String(exchange.getRequestBody.readAllBytes()))
        val empty = """{"results":[{}],"errors":[null]}""".getBytes
        exchange.sendResponseHeaders(200, empty.length)
        exchange.getResponseBody.write(empty)
        exchange.close()
      })
      srv.start()
      srv
    }
    val stubs = Seq(stub(), stub())
    try {
      val b = new Broker(stubs.map(s => s"http://localhost:${s.getAddress.getPort}"))
      def nows(queryJson: String): Seq[Option[BigInt]] = {
        bodies.clear()
        b.aql(queryJson)
        import scala.jdk.CollectionConverters._
        bodies.asScala.toSeq.map(body => (JsonMethods.parse(body) \ "queries")(0) \ "now" match {
          case JInt(n) => Some(n)
          case _ => None
        })
      }
      val noNow = """{"table": "events",
        "measures": [{"alias": "value", "sqlExpression": "avg(value)"}],
        "dimensions": [{"alias": "et", "sqlExpression": "event_type"}],
        "timeFilter": {"from": "-1d"}}"""
      val pinned = nows(noNow)
      assert(pinned.size == 4, pinned)
      assert(pinned.forall(_.isDefined) && pinned.distinct.size == 1,
        s"every member and component wave must carry one now: $pinned")
      assert(nows(query("avg(value)")) == Seq.fill(4)(Some(BigInt(1706659200))))
    } finally stubs.foreach(_.stop(0))
  }

  test("dynamic topology: instances join the fan-out at runtime, stale members demote") {
    // three disjoint day slices; p3 is NOT registered at first
    val D1 = "2024-01-10"
    val p1 = new GraftServer(slicedBetween(None, Some(D1)), spark)
    val p2 = new GraftServer(slicedBetween(Some(D1), Some(Split)), spark)
    val p3 = new GraftServer(slicedBetween(Some(Split), None), spark)
    Seq(p1, p2, p3).foreach(_.start())
    var now = 0L // manual clock: heartbeats and staleness fully deterministic
    val dir = java.nio.file.Files.createTempDirectory("topo").toString
    val topo = new BrokerTopology(dir, staleMillis = 5000,
      cacheMillis = 0, clock = () => now)
    // beatMillis huge: heartbeats only when the test calls beatNow()
    val hour = 3600 * 1000L
    val r1 = topo.register("a", s"http://localhost:${p1.boundPort}", beatMillis = hour)
    val r2 = topo.register("b", s"http://localhost:${p2.boundPort}", beatMillis = hour)
    try {
      val dyn = Broker.dynamic(topo)
      val expected = singleAnswer(query("count(*)"))
      // two of three slices registered: the merge answers, but NOT the
      // whole-table result (days >= Split are missing)
      val partial = JsonMethods.parse(dyn.aql(query("count(*)")))
      assert(normalize(partial) != normalize(expected), "partial == whole?")
      // third instance registers at runtime → the NEXT query fans over 3
      // and merges to the whole-table answer; same broker object, no
      // restart
      val r3 = topo.register("c", s"http://localhost:${p3.boundPort}", beatMillis = hour)
      assertClose(JsonMethods.parse(dyn.aql(query("count(*)"))), expected,
        "post-join count(*)")
      assert(topo.slices().length == 3)

      // a second replica joins slice "a", then goes silent: after
      // staleMillis it is demoted from the replica list with no restart —
      // and the live replica keeps answering for the slice
      val rDead = topo.register("a", "http://localhost:1", id = "dead-a",
        beatMillis = hour)
      assert(topo.slices().map(_.length).sum == 4)
      now += 6000 // everyone's heartbeat is now stale...
      Seq(r1, r2, r3).foreach(_.beatNow()) // ...except the live three re-beat
      assert(topo.slices().map(_.length).sum == 3,
        s"stale replica not demoted: ${topo.list()}")
      assertClose(JsonMethods.parse(dyn.aql(query("count(*)"))), expected,
        "post-demotion count(*)")
      // deregistration (close) removes the member file entirely
      rDead.close()
      r3.close()
      assert(topo.slices().length == 2, topo.list().toString)
    } finally {
      Seq(r1, r2).foreach(_.close())
      Seq(p1, p2, p3).foreach(_.stop())
    }
  }

  test("avg's sum+count subqueries against one instance run concurrently") {
    // instance whose events load stalls 2 s per query compile: avg fans
    // TWO subqueries at it — scattered serially against a single-threaded
    // server that costs >= 4 s of stall; concurrent scatter against the
    // multithreaded instance costs ~one stall. An avg inside arithmetic
    // splits into the same pair and must scatter in the same one wave
    val base = Catalog.testdata(sfDir)
    val ev = base.tables("events")
    val slowCat = base.copy(tables = base.tables +
      ("events" -> ev.copy(load = s => { Thread.sleep(2000); ev.load(s) })))
    val slow = new GraftServer(slowCat, spark)
    slow.start()
    try {
      val b = new Broker(Seq(s"http://localhost:${slow.boundPort}"))
      Seq("avg(value)", "avg(value) * 2 + 1").foreach { m =>
        val t0 = System.nanoTime()
        val merged = JsonMethods.parse(b.aql(query(m)))
        val wallMs = (System.nanoTime() - t0) / 1000000
        assertClose(merged, singleAnswer(query(m)), s"concurrent $m")
        assert(wallMs < 3500,
          s"$m over one instance took ${wallMs}ms — sum+count did not overlap")
      }
    } finally slow.stop()
  }

  test("a timed-out replica is demoted and skipped on the next query") {
    // replica that ACCEPTS connections but never responds: the first
    // query pays the 2 s request timeout before failing over; the health
    // memory must order the live replica first on the SECOND query
    val stall = new java.net.ServerSocket(0)
    val bitbucket = new Thread(() => {
      try while (true) stall.accept() // hold sockets open, never answer
      catch { case _: java.io.IOException => } // closed at test end
    })
    bitbucket.setDaemon(true)
    bitbucket.start()
    try {
      val b = new Broker(
        Seq(s"http://127.0.0.1:${stall.getLocalPort}|http://localhost:${serverA.boundPort}" +
          s"|http://localhost:${serverB.boundPort}"),
        timeout = java.time.Duration.ofSeconds(2))
      val expectedA = JsonMethods.parse(
        new Broker(Seq(s"http://localhost:${serverA.boundPort}")).aql(query("count(*)")))
      val first = JsonMethods.parse(b.aql(query("count(*)")))
      assertClose(first, expectedA, "first query (paid the timeout)")
      val t0 = System.nanoTime()
      val second = JsonMethods.parse(b.aql(query("count(*)")))
      val wallMs = (System.nanoTime() - t0) / 1000000
      assertClose(second, expectedA, "second query")
      assert(wallMs < 1500,
        s"second query took ${wallMs}ms — the dead replica was tried first again")
    } finally stall.close()
  }

  /** Catalog with a dimension table whose load stalls — a stuck-merge /
    * saturation fixture for the broker-tier admission and deadline cases
    * (mirrors ServingConcurrencySpec's slowCatalog).
    */
  private def slowCatalog(stallMillis: Long): Catalog = {
    val base = Catalog.testdata(sfDir)
    val docs = base.tables("documents")
    base.copy(tables = base.tables + ("slowdim" -> graft.aql.TableDef(
      "slowdim", isFact = false, primaryKey = Seq("doc_id"),
      load = s => { Thread.sleep(stallMillis); docs.load(s) })))
  }

  private def postFront(port: Int, body: String) =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port/query/aql"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("broker deadline cancels a stuck merge with a named error and keeps serving") {
    val slow = new GraftServer(slowCatalog(8000), spark)
    slow.start()
    val front = new BrokerServer(Seq(s"http://localhost:${slow.boundPort}"),
      queryTimeoutSec = 1)
    front.start()
    try {
      val t0 = System.nanoTime()
      val resp = postFront(front.boundPort,
        """{"queries": [{"table": "slowdim",
          "measures": [{"alias": "value", "sqlExpression": "count(*)"}]}]}""")
      val wallMs = (System.nanoTime() - t0) / 1000000
      assert(resp.statusCode() == 200, resp.body())
      val msg = JsonMethods.parse(resp.body()) \ "errors" match {
        case JArray(JString(m) :: _) => m
        case other => fail(s"expected a named error, got $other in ${resp.body()}")
      }
      assert(msg.contains("query deadline exceeded (1s)"), msg)
      assert(wallMs < 5000,
        s"deadline query took ${wallMs}ms — the broker waited out the stall")
      // the broker tier keeps serving: a fast table on the same instance
      // works. The probe goes through a NO-deadline front — on a loaded
      // test host the abandoned 8s stall can starve the instance long
      // enough that an innocent follow-up scan trips a fresh 1s deadline,
      // which is the deadline doing its job, not the poisoning this
      // assertion guards (the r13 ServingConcurrencySpec lesson)
      val probe = new BrokerServer(Seq(s"http://localhost:${slow.boundPort}"))
      probe.start()
      try {
        val ok = postFront(probe.boundPort,
          """{"queries": [{"table": "documents",
            "measures": [{"alias": "value", "sqlExpression": "count(*)"}]}]}""")
        assert(ok.statusCode() == 200 &&
          (JsonMethods.parse(ok.body()) \ "errors") == JNull, ok.body())
      } finally probe.stop()
      // the cancellation is an operational counter
      val m = JsonMethods.parse(client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://localhost:${front.boundPort}/metrics")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body())
      assert((m \ "deadlineCancelled") == JLong(1) ||
        (m \ "deadlineCancelled") == JInt(1), JsonMethods.compact(JsonMethods.render(m)))
    } finally { front.stop(); slow.stop() }
  }

  test("broker admission bound 503s the excess client and counts the rejection") {
    val slow = new GraftServer(slowCatalog(3000), spark)
    slow.start()
    val front = new BrokerServer(Seq(s"http://localhost:${slow.boundPort}"),
      maxQueryConnections = 1)
    front.start()
    try {
      val q = """{"queries": [{"table": "slowdim",
        "measures": [{"alias": "value", "sqlExpression": "count(*)"}]}]}"""
      val codes = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
      val threads = (1 to 2).map { _ =>
        val t = new Thread(() => codes.add(postFront(front.boundPort, q).statusCode()))
        t.start(); t
      }
      threads.foreach(_.join(30000))
      assert(codes.size == 2 && codes.contains(200) && codes.contains(503),
        s"expected one 200 + one 503, got $codes")
      val m = JsonMethods.parse(client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://localhost:${front.boundPort}/metrics")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body())
      assert((m \ "rejected") == JLong(1) || (m \ "rejected") == JInt(1),
        JsonMethods.compact(JsonMethods.render(m)))
      // the slot is free again: a later query is admitted and answers
      val ok = postFront(front.boundPort, q)
      assert(ok.statusCode() == 200 &&
        (JsonMethods.parse(ok.body()) \ "errors") == JNull, ok.body())
    } finally { front.stop(); slow.stop() }
  }
}
