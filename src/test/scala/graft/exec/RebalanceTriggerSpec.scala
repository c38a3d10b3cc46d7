package graft.exec

import java.util.concurrent.atomic.AtomicLong

import graft.{SparkSpec, Tables}
import graft.api.GraftServer
import graft.aql.Catalog
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Membership-watched rebalance (the reference controller's etcd watch
  * loop, controller/handlers/assignment.go): a member set that HOLDS its
  * change for N ticks fires exactly one rebalance; a flapping member
  * never does; the merged answers through the new placement equal the
  * whole-table answer.
  */
class RebalanceTriggerSpec extends SparkSpec {

  test("tick logic: stable change fires once, flap never fires, empty set never fires") {
    var members: Set[String] = Set("a", "b")
    var published: Set[String] = Set("a", "b")
    var fired = List.empty[Set[String]]
    val trig = new RebalanceTrigger(() => members, () => published,
      s => { fired ::= s; published = s }, stableTicks = 3)

    // steady state: no fire, no pending accumulation
    (1 to 5).foreach(_ => assert(!trig.tick()))
    assert(fired.isEmpty)

    // a third member joins and HOLDS: fires on the 3rd consecutive tick
    members = Set("a", "b", "c")
    assert(!trig.tick() && !trig.tick())
    assert(trig.tick(), "stable changed set must fire on the Nth tick")
    assert(fired == List(Set("a", "b", "c")) && trig.fires == 1)
    (1 to 3).foreach(_ => assert(!trig.tick(), "published matches, must not refire"))

    // flapping member: the observed set changes between ticks — never fires
    members = Set("a", "b", "c", "d")
    assert(!trig.tick())
    members = Set("a", "b", "c") // d died before the window elapsed
    (1 to 4).foreach(_ => assert(!trig.tick()))
    assert(trig.fires == 1, "flap must not trigger a rebalance")

    // an on/off flapper resets the counter every other tick
    var flip = false
    (1 to 6).foreach { _ =>
      members = if (flip) Set("a", "b", "c", "d") else Set("a", "b", "c")
      flip = !flip
      assert(!trig.tick())
    }
    assert(trig.fires == 1)

    // all members stale: never rebalance to an empty set
    members = Set.empty
    (1 to 4).foreach(_ => assert(!trig.tick()))
    assert(trig.fires == 1)
  }

  test("topology-driven: third member registers, trigger fires once, merged answers identical") {
    Tables.eventsArchived(spark, sfDir)
    val sharedDir = Tables.eventsArchivePath(sfDir)
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val localRoot = tmp("trig-root")
    val topoDir = tmp("trig-topo")
    val membersDir = tmp("trig-members")

    // injectable clock shared by topology registrations and staleness
    val clock = new AtomicLong(1000000L)
    val topology = new BrokerTopology(membersDir, staleMillis = 15000,
      cacheMillis = 0, clock = () => clock.get())
    val trigger = RebalanceTrigger.over(spark, topology, sharedDir, topoDir,
      localRoot, stableTicks = 3)

    val regA = topology.register("a", "http://a.example")
    val regB = topology.register("b", "http://b.example")
    try {
      // initial placement: {a,b} vs no published assignment — holds 3 ticks
      assert(!trigger.tick() && !trigger.tick())
      assert(trigger.tick())
      val v1 = SliceRebalance.read(topoDir).get
      assert(v1.version == 1L && v1.owners.keySet == Set("a", "b"))

      // member c joins and holds: exactly one more fire, version bumps once
      val regC = topology.register("c", "http://c.example")
      try {
        assert(!trigger.tick() && !trigger.tick())
        assert(trigger.tick())
        (1 to 3).foreach(_ => assert(!trigger.tick()))
        val v2 = SliceRebalance.read(topoDir).get
        assert(v2.version == 2L, s"expected exactly one version bump, got $v2")
        assert(v2.owners.keySet == Set("a", "b", "c"))
        assert(v2.owners("c").nonEmpty, "the new member must own real days")

        // merged answers through the new placement equal the whole table
        val base = Catalog.testdata(sfDir)
        val whole = new GraftServer(base, spark)
        val servers = Seq("a", "b", "c").map(s => new GraftServer(
          SliceRebalance.servingCatalog(base, s"$localRoot/$s", topoDir, s,
            spark.sparkContext.hadoopConfiguration), spark))
        (whole +: servers).foreach(_.start())
        try {
          val q = s"""{"table": "events",
              "measures": [{"alias": "value", "sqlExpression": "count(*)"}],
              "dimensions": [{"alias": "et", "sqlExpression": "event_type"}],
              "timeFilter": {"from": "1704067200"}, "now": 1706659200}"""
          def normalize(v: JValue) = JsonMethods.compact(JsonMethods.render(v match {
            case JObject(fields) => JObject(fields.sortBy(_._1))
            case other => other
          }))
          val client = java.net.http.HttpClient.newHttpClient()
          def answer(port: Int): String = {
            val resp = client.send(
              java.net.http.HttpRequest.newBuilder(java.net.URI.create(
                s"http://localhost:$port/query/aql"))
                .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
                  s"""{"queries": [$q]}""")).build(),
              java.net.http.HttpResponse.BodyHandlers.ofString())
            normalize((JsonMethods.parse(resp.body()) \ "results")(0))
          }
          val broker = new Broker(servers.map(s => s"http://localhost:${s.boundPort}"))
          assert(normalize(JsonMethods.parse(broker.aql(q))) == answer(whole.boundPort),
            "3-member merge != whole table after the triggered rebalance")
        } finally (whole +: servers).foreach(_.stop())

        // a member that dies and stays dead also triggers (shrink path):
        // pause c's heartbeat, advance past staleness, hold 3 ticks
        regC.pause()
        clock.addAndGet(20000L)
        // survivors re-stamp under the advanced clock (their periodic
        // beats still carry the old value); the paused member cannot
        regA.beatNow(); regB.beatNow()
        assert(!trigger.tick() && !trigger.tick())
        assert(trigger.tick())
        val v3 = SliceRebalance.read(topoDir).get
        assert(v3.version == 3L && v3.owners.keySet == Set("a", "b"))
      } finally regC.close()
    } finally { regA.close(); regB.close() }
  }
}
