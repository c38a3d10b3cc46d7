package graft.api

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.functions.{col, udf}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.SparkSpec
import graft.aql.{Catalog, TableDef}

/** The serving tier under concurrency (ref integration/config/ares.yaml
  * 17-22 provisions 650 connections / 300 query threads; the JDK default
  * of one dispatcher thread would serialize everything):
  *
  *   - two slow queries + `/health` all make progress at once — health
  *     answers while both queries are still running, and the pair costs
  *     ~one query's wall time, not two
  *   - a query past `queryTimeoutSec` has its Spark job group cancelled
  *     and returns the NAMED `query deadline exceeded` error, after which
  *     the server keeps serving normally
  */
class ServingConcurrencySpec extends SparkSpec {

  private val client = HttpClient.newHttpClient()

  private def post(port: Int, path: String, body: String) =
    client.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  /** An AQLRequest body answered through the front over `svc`. */
  private def aql(svc: graft.exec.QueryService, body: String): String =
    JsonMethods.compact(JsonMethods.render(QueryFront.answer(new Metrics,
      graft.aql.AqlJson.parseRequest(body).queries)(svc.answer(_, "aql"))))

  private def get(port: Int, path: String) =
    client.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
      .GET().build(), HttpResponse.BodyHandlers.ofString())

  /** documents catalog + a `slowdim` table whose load stalls the handler
    * thread — a deterministic stand-in for an expensive compile/scan.
    */
  private def slowCatalog(stallMillis: Long): Catalog = {
    val base = Catalog.testdata(sfDir)
    val docs = base.tables("documents")
    base.copy(tables = base.tables + ("slowdim" -> TableDef(
      "slowdim", isFact = false, primaryKey = Seq("doc_id"),
      load = s => { Thread.sleep(stallMillis); docs.load(s) })))
  }

  test("health and a second query make progress while a slow query runs") {
    val server = new GraftServer(slowCatalog(3000), spark)
    server.start()
    try {
      val q = """{"queries": [{"table": "slowdim",
        "measures": [{"alias": "value", "sqlExpression": "count(*)"}]}]}"""
      // baseline: one query alone (the compile path may hit the stalling
      // load more than once, so don't assume a query costs one stall)
      val b0 = System.nanoTime()
      assert((JsonMethods.parse(post(server.boundPort, "/query/aql", q).body())
        \ "errors") == JNull)
      val singleMs = (System.nanoTime() - b0) / 1000000
      val results = Seq.fill(2)(new AtomicReference[String]())
      val t0 = System.nanoTime()
      val threads = results.map { slot =>
        val t = new Thread(() => slot.set(post(server.boundPort, "/query/aql", q).body()))
        t.start(); t
      }
      Thread.sleep(300) // both queries are now in their 3 s stall
      val h0 = System.nanoTime()
      val health = get(server.boundPort, "/health")
      val healthMs = (System.nanoTime() - h0) / 1000000
      assert(health.statusCode() == 200 && health.body() == "OK")
      assert(healthMs < 1500,
        s"/health took ${healthMs}ms behind a slow query — handlers are serialized")
      threads.foreach(_.join(15000))
      val wallMs = (System.nanoTime() - t0) / 1000000
      results.foreach { r =>
        val parsed = JsonMethods.parse(r.get())
        assert((parsed \ "errors") == JNull, r.get())
      }
      // serial handling would cost ~2x one query; concurrent ~1x
      assert(wallMs < (singleMs * 1.6).toLong,
        s"two slow queries took ${wallMs}ms vs ${singleMs}ms for one — " +
          "they did not run concurrently")
    } finally server.stop()
  }

  test("query admission bound 503s the excess query but never starves ingest") {
    val server = new GraftServer(slowCatalog(2000), spark,
      maxQueryConnections = 1)
    server.start()
    try {
      val q = """{"queries": [{"table": "slowdim",
        "measures": [{"alias": "value", "sqlExpression": "count(*)"}]}]}"""
      val codes = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
      val threads = (1 to 2).map { _ =>
        val t = new Thread(() =>
          codes.add(post(server.boundPort, "/query/aql", q).statusCode()))
        t.start(); t
      }
      Thread.sleep(500) // one query holds the single slot, one got 503
      // ingestion has its OWN (unbounded here) admission class: a write
      // lands while the query slot is saturated
      val ing = post(server.boundPort, "/data/slowdim",
        """[{"doc_id": 999999, "text": "fresh", "lang": "en", "source": "t", "n_chars": 5}]""")
      assert(ing.statusCode() == 200,
        s"ingest starved by query saturation: ${ing.body()}")
      threads.foreach(_.join(15000))
      assert(codes.size == 2 && codes.contains(200) && codes.contains(503),
        s"expected one 200 + one 503, got $codes")
      // the rejection is an operational counter (ref reporter metrics)
      val m = JsonMethods.parse(get(server.boundPort, "/metrics").body())
      assert((m \ "rejected") == JInt(1), JsonMethods.compact(JsonMethods.render(m \ "rejected")))
    } finally server.stop()
  }

  test("a query past the deadline is cancelled with a named error") {
    // every row of `slow` sleeps, so max(slow) is a genuinely long Spark
    // job (~8 s: 4 tasks x 16 rows x 500 ms on local[4]) that the 2 s
    // deadline must cut short by cancelling the job group
    val sleepy = udf((x: Long) => { Thread.sleep(500); x })
    val base = Catalog.testdata(sfDir)
    val cat = base.copy(tables = base.tables + ("crawl" -> TableDef(
      "crawl", isFact = false, primaryKey = Seq("slow"),
      load = s => s.range(0, 64, 1, 4).select(sleepy(col("id")).as("slow")))))
    val server = new GraftServer(cat, spark, queryTimeoutSec = 2)
    server.start()
    try {
      val t0 = System.nanoTime()
      val resp = post(server.boundPort, "/query/aql",
        """{"queries": [{"table": "crawl",
          "measures": [{"alias": "value", "sqlExpression": "max(slow)"}]}]}""")
      val wallMs = (System.nanoTime() - t0) / 1000000
      val errs = JsonMethods.parse(resp.body()) \ "errors"
      val msg = errs match {
        case JArray(JString(m) :: _) => m
        case other => fail(s"expected a named error, got $other")
      }
      assert(msg.contains("query deadline exceeded (2s)"), msg)
      assert(wallMs < 6500,
        s"deadline query ran ${wallMs}ms — cancellation did not stop the job")
      // The session survives the cancellation. Asserted against a server
      // WITHOUT a deadline on the SAME SparkSession: what this guards is
      // "cancellation did not poison the shared session", and checking it
      // under the 2 s deadline conflated that with "a cold documents scan
      // on a loaded host finishes in 2 s" — a host property, not a code
      // property (it flaked exactly once, in a run whose sibling gates
      // measured 9x their normal times).
      val survivor = new GraftServer(Catalog.testdata(sfDir), spark)
      survivor.start()
      try {
        val ok = post(survivor.boundPort, "/query/aql",
          """{"queries": [{"table": "documents",
            "measures": [{"alias": "value", "sqlExpression": "count(*)"}]}]}""")
        assert((JsonMethods.parse(ok.body()) \ "errors") == JNull, ok.body())
      } finally survivor.stop()
      // the cancellation is an operational counter
      val m = JsonMethods.parse(get(server.boundPort, "/metrics").body())
      assert((m \ "deadlineCancelled") == JInt(1),
        JsonMethods.compact(JsonMethods.render(m)))
    } finally server.stop()
  }

  test("a fired watchdog cannot cancel a successor query (no cancellation bleed)") {
    // Drives the REAL watchdog end-to-end: query A genuinely exceeds its
    // deadline and is cancelled; successor queries must be untouched.
    // Regression pin for a bug this spec caught: Spark's lazy internal
    // pools (broadcast exchange, AQE stage creation) inherit
    // localProperties from the thread chain that creates them, so a pool
    // thread born during A carries A's job group FOREVER — with the
    // sticky cancelJobGroupAndFutureJobs the old withDeadline used, every
    // later query whose plan rode such a pool thread was skipped as
    // "part of cancelled job group graft-deadline-1", session-wide and
    // permanent. The successor runs on a NO-deadline service — the
    // poisoning lives in Spark's global pools, not the service, so the
    // bleed (if reintroduced) still manifests here, while the success
    // check itself cannot flake on a loaded host's scan time.
    val sleepy = udf((x: Long) => { Thread.sleep(500); x })
    val base = Catalog.testdata(sfDir)
    val cat = base.copy(tables = base.tables + ("crawl2" -> TableDef(
      "crawl2", isFact = false, primaryKey = Seq("slow"),
      load = s => s.range(0, 64, 1, 4).select(sleepy(col("id")).as("slow")))))
    val deadlined = new graft.exec.QueryService(cat, spark, queryTimeoutSec = 2)
    val a = JsonMethods.parse(aql(deadlined,
      """{"queries": [{"table": "crawl2",
        "measures": [{"alias": "value", "sqlExpression": "max(slow)"}]}]}"""))
    (a \ "errors") match {
      case JArray(JString(m) :: _) =>
        assert(m.contains("query deadline exceeded"), m)
      case other => fail(s"expected the slow query to be cancelled, got $other")
    }
    // A's scope has exited -> its watchdog ticks are stopped; successors
    // must be clean. Run two so at least one plan rides the execution
    // pools Spark spun up (and group-poisoned) during A.
    val survivor = new graft.exec.QueryService(base, spark)
    val okQ = """{"queries": [{"table": "documents",
      "measures": [{"alias": "value", "sqlExpression": "count(*)"}]}]}"""
    (1 to 2).foreach { i =>
      val b = JsonMethods.parse(aql(survivor, okQ))
      assert((b \ "errors") == JNull,
        s"successor query $i was cancelled by a late watchdog: $b")
    }
  }
}
