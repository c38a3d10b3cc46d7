package graft.exec

import graft.{SparkSpec, Tables}
import graft.api.GraftServer
import graft.aql.Catalog
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Seeded soak over the whole slice-mode loop: random interleavings of
  * ingest / PK-update / drain / sync / rebalance / crash+restart across
  * two members (plus a fixed grow and a fixed shared-archive compaction),
  * with the EXACTLY-ONCE invariant asserted through the broker after
  * EVERY step. Updates POST at a RANDOM member — ownership
  * routing must land them at the day's owner, or the id answers twice.
  *
  * The individual transitions are each spec'd in isolation
  * (SliceServeSpec, SliceRebalanceSpec, GraftServerSpec); what this soak
  * buys is the CROSS-PRODUCT: fresh rows living simultaneously in one
  * member's overlay, another's pending delta, the shared archive, and a
  * local cache mid-sync — under arbitrary operation orderings the unit
  * specs never compose. Any state where a row is served zero or two
  * times fails immediately with the op trace.
  */
class ClusterSoakSpec extends SparkSpec {

  private def wideQuery: String =
    s"""{"table": "events",
        "measures": [{"alias": "value", "sqlExpression": "count(*)"}],
        "dimensions": [{"alias": "et", "sqlExpression": "event_type"}],
        "timeFilter": {"from": "1704067200", "to": "1900000000"},
        "now": 1900000000}"""

  private def total(resultJson: String): Double =
    JsonMethods.parse(resultJson) match {
      case JObject(fields) => fields.map {
        case (_, JDouble(d)) => d
        case (_, JInt(i)) => i.toDouble
        case other => fail(s"unexpected leaf $other")
      }.sum
      case other => fail(s"unexpected result shape $other")
    }

  test("seeded op soak: exactly-once through every ingest/drain/sync/rebalance interleaving") {
    Tables.eventsArchived(spark, sfDir)
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val sharedDir = tmp("soak-shared")
    SliceBootstrap.copySlice(spark, Tables.eventsArchivePath(sfDir), sharedDir)
    var dirs = Map("a" -> tmp("soak-a"), "b" -> tmp("soak-b"))
    val topoDir = tmp("soak-topo")
    SliceRebalance.rebalance(spark, sharedDir, dirs, topoDir)

    var journalDirs = Map("a" -> tmp("soak-ja"), "b" -> tmp("soak-jb"))
    val membersDir = tmp("soak-members")
    val registry = new BrokerTopology(membersDir)
    val base = Catalog.testdata(sfDir)
    def member(slice: String): GraftServer = {
      val srv = new GraftServer(
        SliceRebalance.servingCatalog(base, dirs(slice), topoDir, slice,
          spark.sparkContext.hadoopConfiguration,
          sharedArchiveDir = sharedDir), spark,
        journalDir = Some(journalDirs(slice)),
        // member a gets a TINY journal bound: every few ingests trigger a
        // size-rotation drain INLINE with the ingest — composing the
        // rotation path (drain under the archive lock, skip on
        // contention) with every other op in the mix
        journalByteLimit = if (slice == "a") 2048L else 0L,
        ingestRouter = Some(new SliceRouter(topoDir, membersDir, slice)))
      srv.sliceServe("events", sharedDir,
        () => SliceSync.sync(spark, sharedDir, dirs(slice), topoDir, slice),
        // the ServerMain delta-scoping wiring: a day a rebalance moved
        // away serves at its NEW owner; this member's stranded delta rows
        // for it serve only where their PK is absent from the shared copy
        // (stranded inserts — the only copy anywhere; layeredLoad's
        // moved-day anti-join)
        ownedDay = () => SliceRebalance.read(topoDir).map { a =>
          (d: String) => SliceRebalance.extendedOwner(a, d).contains(slice)
        })
      srv.start()
      srv
    }
    var members = Map("a" -> member("a"), "b" -> member("b"))
    var regs = members.map { case (s, m) =>
      s -> registry.register(s, s"http://localhost:${m.boundPort}", id = s)
    }
    val client = java.net.http.HttpClient.newHttpClient()
    val nextId = new java.util.concurrent.atomic.AtomicLong(920000000L)
    // fresh days INSIDE the query window, spread so drains/syncs cross
    // ownership boundaries
    val freshDays = Seq("2029-06-01", "2029-06-02", "2029-07-15", "2030-01-03")

    // fresh rows this soak created: id -> (day, ts, current value)
    val mine = scala.collection.mutable.LinkedHashMap.empty[Long, (String, String, Double)]

    def post(slice: String, rowsJson: String): Unit = {
      val r = client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(
          s"http://localhost:${members(slice).boundPort}/data/events"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(rowsJson)).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200, r.body())
    }

    def ingest(slice: String, day: String, k: Int): Unit = {
      val rows = (1 to k).map { i =>
        val id = nextId.incrementAndGet()
        val ts = s"$day 0${i % 10}:1${i % 6}:00"
        mine(id) = (day, ts, 1.0)
        s"""{"event_id": $id, "ts": "$ts",
            "user_id": ${id % 97}, "event_type": "soak_et", "value": 1.0,
            "props": "{}"}"""
      }.mkString("[", ",", "]")
      post(slice, rows)
    }

    try {
      def broker() = new Broker(members.values.toSeq.map(m =>
        s"http://localhost:${m.boundPort}"))
      val before = total(broker().aql(wideQuery))
      var expected = before
      // fixed seed for CI determinism; override for local seed sweeps
      val seed = java.lang.Long.decode(
        sys.env.getOrElse("SPARK_GRAFT_SOAK_SEED", "0x50AC"))
      val rng = new scala.util.Random(seed)
      val trace = Seq.newBuilder[String]

      (1 to 24).foreach { step =>
        // fixed mid-soak GROW on every seed: day ownership MOVES while
        // members may hold un-drained deltas for the moved days — the
        // r15 stranded-delta class (the process drill caught it over real
        // JVMs; this keeps it pinned in-process on every seed). Counts
        // must be exact IMMEDIATELY after the publish (ownership-scoped
        // delta serving + the overlay-only exception); the drains that
        // follow are the scheduler's moved-days handoff job, after which
        // updated values serve from the new owners too.
        if (step == 12) {
          dirs += ("c" -> tmp("soak-c"))
          journalDirs += ("c" -> tmp("soak-jc"))
          SliceRebalance.rebalance(spark, sharedDir, dirs, topoDir)
          val cNew = member("c")
          members += ("c" -> cNew)
          regs += ("c" -> registry.register("c",
            s"http://localhost:${cNew.boundPort}", id = "c"))
          assert(total(broker().aql(wideQuery)) == expected,
            s"count drifted at the grow PUBLISH instant (pre-handoff)\n" +
              trace.result().mkString("\n"))
          members.values.foreach(_.drain("events", sharedDir))
          dirs.keys.foreach(s =>
            SliceSync.sync(spark, sharedDir, dirs(s), topoDir, s))
          trace += s"$step+: grow a,b -> a,b,c with pending deltas, then handoff drains"
        }
        // fixed mid-soak COMPACTION of the shared archive on every seed:
        // every multi-file day swaps in a re-sorted copy while members
        // hold local caches, pending deltas and unsynced drains of it
        if (step == 18) {
          val rewritten = graft.ingest.Compactor.compact(spark, sharedDir,
            Tables.EventsSortCols, maxFiles = 1)
          trace += s"$step+: compact the shared archive (${rewritten.size} days rewritten)"
          assert(total(broker().aql(wideQuery)) == expected,
            s"count drifted across the compaction\n" + trace.result().mkString("\n"))
        }
        val op = rng.nextInt(13)
        val slice = {
          val live = members.keys.toSeq.sorted
          live(rng.nextInt(live.length))
        }
        op match {
          case 0 | 1 | 2 | 3 => // ingest dominates, like production
            val day = freshDays(rng.nextInt(freshDays.length))
            val k = 1 + rng.nextInt(4)
            ingest(slice, day, k)
            expected += k
            trace += s"$step: ingest $k rows of $day into $slice"
          case 4 | 5 | 6 =>
            members(slice).drain("events", sharedDir)
            trace += s"$step: drain $slice"
          case 7 | 8 =>
            SliceSync.sync(spark, sharedDir, dirs(slice), topoDir, slice)
            trace += s"$step: sync $slice"
          case 9 =>
            // same member set: version-stable no-op ownership, but the
            // merge-up/copy/guarded-drop machinery all run against
            // whatever overlay/archive state the soak reached
            SliceRebalance.rebalance(spark, sharedDir, dirs, topoDir)
            trace += s"$step: rebalance"
          case 10 if mine.nonEmpty =>
            // PK UPDATE via a RANDOM member: ownership routing must land
            // it at the day's owner — a non-owner applying it would make
            // the id answer twice (count +1), failing the invariant below
            val keys = mine.keys.toSeq
            val id = keys(rng.nextInt(keys.length))
            val (day, ts, v) = mine(id)
            val nv = v + 1.0
            mine(id) = (day, ts, nv)
            post(slice, s"""[{"event_id": $id, "ts": "$ts",
                "user_id": ${id % 97}, "event_type": "soak_et", "value": $nv,
                "props": "{}"}]""")
            trace += s"$step: update id $id to $nv via $slice"
            // the id's value serves EXACTLY once, already updated
            val idq = s"""{"table": "events",
                "measures": [{"alias": "v", "sqlExpression": "sum(value)"}],
                "rowFilters": ["event_id = $id"],
                "timeFilter": {"from": "1704067200", "to": "1900000000"},
                "now": 1900000000}"""
            assert(total(broker().aql(idq)) == nv,
              s"updated id $id must serve exactly once with the new value\n" +
                trace.result().mkString("\n"))
          case _ =>
            // crash + restart: the member dies with whatever lives in its
            // overlay and journal; the replacement replays the journal
            // and must answer identically. Its registry entry follows
            // (deregister, re-register the new port), like a real
            // replacement would
            members(slice).stop()
            regs(slice).close()
            members = members.updated(slice, member(slice))
            regs = regs.updated(slice, registry.register(slice,
              s"http://localhost:${members(slice).boundPort}", id = slice))
            trace += s"$step: crash+restart $slice"
        }
        val got = total(broker().aql(wideQuery))
        assert(got == expected,
          s"exactly-once violated at step $step: got $got expected $expected\n" +
            trace.result().mkString("\n"))
      }
      // settle: drain + sync everything, assert once more from cold state
      members.values.foreach(_.drain("events", sharedDir))
      dirs.keys.foreach(s => SliceSync.sync(spark, sharedDir, dirs(s), topoDir, s))
      assert(total(broker().aql(wideQuery)) == expected,
        "exactly-once violated after final settle\n" + trace.result().mkString("\n"))
    } finally {
      regs.values.foreach(_.close())
      members.values.foreach(_.stop())
    }
  }
}
