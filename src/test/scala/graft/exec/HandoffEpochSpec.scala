package graft.exec

import graft.{SparkSpec, Tables}
import graft.api.GraftServer
import graft.aql.Catalog
import graft.ingest.{DrainMarker, PartitionSwap}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Deterministic reconstruction of the ClusterProcessSpec watch-mode-grow
  * flake (r15, 687/688: post-grow count short by the moved-day delta):
  * the exactly-once hazard is NOT the grant itself but the archive
  * rewrite's commit instant — within one scatter wave, the moved day's
  * old owner defers its stranded delta rows by reading the shared copy's
  * PKs while the new owner lists the shared archive to serve the day, and
  * a backfill/compaction directory swap landing between those two reads
  * leaves the rows served by neither member (or both). These specs inject
  * the two windows the process drill only hits under load:
  *
  *   1. the MID-SWAP window (day directory renamed out, replacement not
  *      yet in): the broker must retry on the torn archive epoch and fail
  *      LOUDLY if it never settles — never merge a silently short wave;
  *   2. the CONTENDED-DRAIN-LOCK window (the handoff drain skip-retries
  *      while another writer holds the archive lock): the stranded delta
  *      rows must keep serving exactly once for the whole window.
  */
class HandoffEpochSpec extends SparkSpec {

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

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  private val client = java.net.http.HttpClient.newHttpClient()

  private def ingest(srv: GraftServer, json: String): Unit = {
    val r = client.send(
      java.net.http.HttpRequest.newBuilder(java.net.URI.create(
        s"http://localhost:${srv.boundPort}/data/events"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(json)).build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200, r.body())
  }

  test("drain marker: beginRewrite flags inflight, bump clears it, staleDays unaffected") {
    val dir = tmp("he-marker")
    val conf = spark.sparkContext.hadoopConfiguration
    assert(!DrainMarker.read(dir, conf).inflight)
    DrainMarker.beginRewrite(dir, conf, Seq("2030-01-02"))
    val mid = DrainMarker.read(dir, conf)
    assert(mid.inflight, "beginRewrite must set the inflight flag")
    assert(mid.seq == 0L, "beginRewrite must not advance the seq")
    // a member consulting staleness mid-swap sees the same stale set it
    // would have pre-swap — the epoch token, not staleDays, owns the
    // torn-window semantics
    assert(DrainMarker.staleDays(mid, 0L).contains(Set.empty))
    val seq = DrainMarker.bump(dir, conf, Seq("2030-01-02"))
    val after = DrainMarker.read(dir, conf)
    assert(seq == 1L && !after.inflight,
      "bump must advance the seq and clear the inflight flag")
    assert(DrainMarker.staleDays(after, 0L).contains(Set("2030-01-02")))
  }

  test("compaction announces each day's swap alone, not its whole run") {
    // a wave over a compacting archive must read torn only inside a day's
    // rename pair: announced for the whole run, every broker query during
    // a long compaction would exhaust its retries and fail
    import spark.implicits._
    val dir = tmp("he-compact")
    val conf = spark.sparkContext.hadoopConfiguration
    (0 until 48).map(i => (i.toLong, if (i % 2 == 0) "2030-02-01" else "2030-02-02"))
      .toDF("id", graft.ingest.Archiver.DayCol)
      .repartition(6).write.mode("overwrite")
      .partitionBy(graft.ingest.Archiver.DayCol).parquet(dir)
    val swaps = scala.collection.mutable.ArrayBuffer.empty[(DrainMarker.Marker, Long)]
    val reports = graft.ingest.Compactor.compact(spark, dir, Seq("id"), maxFiles = 2,
      exclusive = swap => {
        val entry = DrainMarker.read(dir, conf)
        swap
        swaps += entry -> DrainMarker.read(dir, conf).seq
      })
    assert(reports.map(_.day) == Seq("2030-02-01", "2030-02-02"), s"fixture: $reports")
    assert(swaps.length == 2)
    swaps.foreach { case (entry, seqAfter) =>
      assert(!entry.inflight, "no rewrite may be announced before the day's swap")
      assert(seqAfter == entry.seq + 1, s"the swap must bump once: ${entry.seq} -> $seqAfter")
    }
    assert(!DrainMarker.read(dir, conf).inflight)
  }

  test("archive epoch token: inflight or disagreeing observations read as torn") {
    ArchiveEpoch.begin()
    try {
      assert(ArchiveEpoch.collect().isEmpty, "no shared reads → no token")
      ArchiveEpoch.note("events", DrainMarker.Marker(3L, Nil))
      assert(ArchiveEpoch.collect().contains("3"))
      ArchiveEpoch.note("events", DrainMarker.Marker(3L, Nil))
      assert(ArchiveEpoch.collect().contains("3"), "repeat agreement keeps the seq")
      ArchiveEpoch.note("events", DrainMarker.Marker(4L, Nil))
      assert(ArchiveEpoch.collect().contains(ArchiveEpoch.Torn),
        "a commit between two reads (seq moved) must read as torn")
    } finally ArchiveEpoch.end()
    ArchiveEpoch.begin()
    try {
      ArchiveEpoch.note("events", DrainMarker.Marker(5L, Nil, inflight = true))
      assert(ArchiveEpoch.collect().contains(ArchiveEpoch.Torn),
        "an inflight marker must read as torn")
    } finally ArchiveEpoch.end()
  }

  test("mid-swap archive rewrite: the broker retries the torn wave and never merges a short count") {
    Tables.eventsArchived(spark, sfDir)
    val sharedDir = tmp("he-shared")
    SliceBootstrap.copySlice(spark, Tables.eventsArchivePath(sfDir), sharedDir)
    val dirs = Map("a" -> tmp("he-a"), "b" -> tmp("he-b"))
    val topoDir = tmp("he-topo")
    SliceRebalance.rebalance(spark, sharedDir, dirs, topoDir)

    val base = Catalog.testdata(sfDir)
    def member(slice: String): GraftServer = {
      val srv = new GraftServer(
        SliceRebalance.servingCatalog(base, dirs(slice), topoDir, slice,
          spark.sparkContext.hadoopConfiguration,
          sharedArchiveDir = sharedDir), spark)
      srv.sliceServe("events", sharedDir,
        () => SliceSync.sync(spark, sharedDir, dirs(slice), topoDir, slice))
      srv.start()
      srv
    }
    val pa = member("a")
    val pb = member("b")
    try {
      val broker = new Broker(Seq(
        s"http://localhost:${pa.boundPort}", s"http://localhost:${pb.boundPort}"))
      val before = total(broker.aql(wideQuery))
      assert(before > 0)

      // force b to serve one of its days FROM THE SHARED ARCHIVE (the
      // new-owner-mid-handoff serving shape): drop b's local copy
      val bDay = SliceRebalance.read(topoDir).get.owners("b").last
      val conf = spark.sparkContext.hadoopConfiguration
      val bLocal = new org.apache.hadoop.fs.Path(dirs("b"),
        s"${graft.ingest.Archiver.DayCol}=$bDay")
      val bFs = bLocal.getFileSystem(conf)
      assert(bFs.delete(bLocal, true), s"fixture: could not drop $bLocal")
      assert(total(broker.aql(wideQuery)) == before,
        "shared-archive fallback must keep the day serving")

      // freeze the archive INSIDE Backfill's swap window: inflight marker
      // written, the day's directory renamed out, replacement not yet in —
      // exactly the state between Backfill's two renames
      DrainMarker.beginRewrite(sharedDir, conf, Seq(bDay))
      val shared = new org.apache.hadoop.fs.Path(sharedDir)
      val sFs = shared.getFileSystem(conf)
      val dayPath = new org.apache.hadoop.fs.Path(shared,
        s"${graft.ingest.Archiver.DayCol}=$bDay")
      val trash = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(shared, PartitionSwap.Trash), dayPath.getName)
      require(sFs.mkdirs(trash.getParent) && sFs.rename(dayPath, trash),
        "fixture: swap-out rename failed")

      // the wave is torn: every slice that read the shared archive saw the
      // inflight marker. The broker must NEVER return a silently short
      // count here — it retries and, with the window frozen open, fails by
      // name after its trial budget
      val ex = intercept[IllegalStateException](broker.aql(wideQuery))
      assert(ex.getMessage.contains("archive epoch"),
        s"expected the torn-epoch scatter failure, got: ${ex.getMessage}")

      // complete the swap exactly as Backfill would: replacement renamed
      // in, commit announced — the next wave settles and is exact
      require(sFs.rename(trash, dayPath), "fixture: swap-in rename failed")
      DrainMarker.bump(sharedDir, conf, Seq(bDay))
      assert(total(broker.aql(wideQuery)) == before,
        "post-commit the wave must settle to the exact count")
    } finally Seq(pa, pb).foreach(_.stop())
  }

  test("contended handoff drain: stranded moved-day delta rows serve exactly once for the whole skip-retry window") {
    Tables.eventsArchived(spark, sfDir)
    val sharedDir = tmp("hc-shared")
    SliceBootstrap.copySlice(spark, Tables.eventsArchivePath(sfDir), sharedDir)
    val dirs = Map("a" -> tmp("hc-a"), "b" -> tmp("hc-b"), "c" -> tmp("hc-c"))
    val topoDir = tmp("hc-topo")
    // start as a 2-member tier: c exists later (the grow)
    SliceRebalance.rebalance(spark, sharedDir, dirs - "c", topoDir)

    val base = Catalog.testdata(sfDir)
    def member(slice: String): GraftServer = {
      val ownedDay = () => SliceRebalance.read(topoDir).map { a =>
        (d: String) => SliceRebalance.extendedOwner(a, d).contains(slice)
      }
      val srv = new GraftServer(
        SliceRebalance.servingCatalog(base, dirs(slice), topoDir, slice,
          spark.sparkContext.hadoopConfiguration,
          sharedArchiveDir = sharedDir), spark)
      srv.sliceServe("events", sharedDir,
        () => SliceSync.sync(spark, sharedDir, dirs(slice), topoDir, slice),
        ownedDay)
      srv.start()
      srv
    }
    val pa = member("a")
    val pb = member("b")
    val pc = member("c")
    try {
      val broker = new Broker(
        Seq(pa, pb, pc).map(m => s"http://localhost:${m.boundPort}"))
      val before = total(broker.aql(wideQuery))

      // fresh-day rows land in b's delta: 2030-01-09 extended-owns to the
      // LAST assigned range's slice (b of {a,b}), and stays undrained
      val freshDay = "2030-01-09"
      assert(SliceRebalance.extendedOwner(
        SliceRebalance.read(topoDir).get, freshDay).contains("b"))
      ingest(pb, (1 to 5).map(i =>
        s"""{"event_id": ${930000000L + i}, "ts": "$freshDay 09:0$i:00",
            "user_id": $i, "event_type": "strand_et", "value": 1.0,
            "props": "{}"}""").mkString("[", ",", "]"))
      assert(total(broker.aql(wideQuery)) == before + 5)

      // the GROW: c joins and the rebalance republishes — the fresh day's
      // extended ownership moves to c (last range) while its only rows
      // still sit in b's pending delta, exactly the r15 drill state
      SliceRebalance.rebalance(spark, sharedDir, dirs, topoDir)
      assert(SliceRebalance.extendedOwner(
        SliceRebalance.read(topoDir).get, freshDay).contains("c"),
        "fixture: the grow must move the fresh day's ownership to c")
      assert(pb.hasLiveRows("events"),
        "fixture: the moved-day rows must still be stranded in b's delta")
      assert(total(broker.aql(wideQuery)) == before + 5,
        "stranded overlay-only rows must keep serving at the old owner")

      // the r15 window: the handoff drain fires while ANOTHER writer holds
      // the archive lock — it must SKIP (not wait, not lose), and the
      // stranded rows must serve exactly once at every instant of the
      // skip-retry window
      val io = GenerationLock.hadoop(
        new org.apache.hadoop.fs.Path(sharedDir),
        spark.sparkContext.hadoopConfiguration)
      GenerationLock.withLock(io, PartitionSwap.LockName, PartitionSwap.StaleMs,
        role = "drain", noun = "archive write lock") { _ =>
        pb.drain("events", sharedDir) // the ServerMain moved-days handoff job
        assert(pb.hasLiveRows("events"),
          "a contended handoff drain must keep the stranded delta (skip, not wait)")
        assert(total(broker.aql(wideQuery)) == before + 5,
          "the skip-retry window must not change what serves")
      }

      // lock released: the retried handoff drain promotes the moved day to
      // the shared archive; the new owner serves it, the old owner's delta
      // is empty — still exactly once
      pb.drain("events", sharedDir)
      assert(!pb.hasLiveRows("events"), "uncontended handoff drain must promote")
      assert(SliceBootstrap.localDays(spark, sharedDir).contains(freshDay))
      assert(total(broker.aql(wideQuery)) == before + 5,
        "post-handoff the moved day must serve exactly once from its new owner")
      SliceSync.sync(spark, sharedDir, dirs("c"), topoDir, "c")
      assert(total(broker.aql(wideQuery)) == before + 5,
        "and still exactly once after the new owner's sync lands it locally")
    } finally Seq(pa, pb, pc).foreach(_.stop())
  }

  /** A two-member slice tier over a fresh copy of the events archive:
    * `body` gets the shared dir, b's last owned day, b's local dir, the
    * topology dir and a broker over both members. `wire` adds to each
    * member's slice serving after `events`.
    */
  private def twoMemberTier(tag: String, wire: GraftServer => Unit = _ => ())(
      body: (String, String, String, String, Broker) => Unit): Unit = {
    Tables.eventsArchived(spark, sfDir)
    val sharedDir = tmp(s"$tag-shared")
    SliceBootstrap.copySlice(spark, Tables.eventsArchivePath(sfDir), sharedDir)
    val dirs = Map("a" -> tmp(s"$tag-a"), "b" -> tmp(s"$tag-b"))
    val topoDir = tmp(s"$tag-topo")
    SliceRebalance.rebalance(spark, sharedDir, dirs, topoDir)
    val members = dirs.keys.toSeq.sorted.map { slice =>
      val srv = new GraftServer(
        SliceRebalance.servingCatalog(Catalog.testdata(sfDir), dirs(slice), topoDir,
          slice, spark.sparkContext.hadoopConfiguration,
          sharedArchiveDir = sharedDir), spark)
      srv.sliceServe("events", sharedDir,
        () => SliceSync.sync(spark, sharedDir, dirs(slice), topoDir, slice))
      wire(srv)
      srv.start()
      srv
    }
    try body(sharedDir, SliceRebalance.read(topoDir).get.owners("b").last, dirs("b"),
      topoDir, new Broker(members.map(m => s"http://localhost:${m.boundPort}")))
    finally members.foreach(_.stop())
  }

  test("a second slice-served table's archive epoch never tears an events wave") {
    // epochs are per archive: the lineitem archive sits at another marker
    // seq, and an events query that never read it must not read as torn
    val conf = spark.sparkContext.hadoopConfiguration
    val otherDir = tmp("he-other")
    (1 to 3).foreach(_ => DrainMarker.bump(otherDir, conf, Nil))
    twoMemberTier("he-two", _.sliceServe("lineitem", otherDir)) { (sharedDir, _, _, _, broker) =>
      assert(DrainMarker.read(sharedDir, conf).seq != DrainMarker.read(otherDir, conf).seq)
      val expected = Tables.eventsArchived(spark, sfDir).count().toDouble
      assert(total(broker.aql(wideQuery)) == expected)
    }
  }

  test("a writer that crashed inside its swap is rolled back by the next sync once its lock is stale") {
    val conf = spark.sparkContext.hadoopConfiguration
    twoMemberTier("he-crash") { (sharedDir, bDay, bLocal, topoDir, broker) =>
      val before = total(broker.aql(wideQuery))
      // the crashed Backfill: its archive lock left behind, its swap
      // announced, b's day renamed to trash and never replaced
      val lock = java.nio.file.Paths.get(sharedDir, s"${PartitionSwap.LockName}.g1")
      java.nio.file.Files.writeString(lock, "crashed-writer")
      DrainMarker.beginRewrite(sharedDir, conf, Seq(bDay))
      val day = s"${graft.ingest.Archiver.DayCol}=$bDay"
      val trash = java.nio.file.Paths.get(sharedDir, PartitionSwap.Trash, day)
      java.nio.file.Files.createDirectories(trash.getParent)
      java.nio.file.Files.move(java.nio.file.Paths.get(sharedDir, day), trash)
      val ex = intercept[IllegalStateException](broker.aql(wideQuery))
      assert(ex.getMessage.contains("archive epoch"),
        s"expected the torn-epoch scatter failure, got: ${ex.getMessage}")

      // a FRESH lock is a live writer inside its swap: the sync must not
      // touch it — the writer's own bump ends the window
      SliceSync.sync(spark, sharedDir, bLocal, topoDir, "b")
      assert(DrainMarker.read(sharedDir, conf).inflight,
        "a sync must leave a live writer's swap alone")
      assert(java.nio.file.Files.exists(trash))

      // the same lock untouched past staleMs belongs to a crashed writer:
      // one sync rolls the swap back and clears the flag
      java.nio.file.Files.setLastModifiedTime(lock, java.nio.file.attribute.FileTime
        .fromMillis(System.currentTimeMillis() - PartitionSwap.StaleMs - 60000L))
      SliceSync.sync(spark, sharedDir, bLocal, topoDir, "b")
      assert(!DrainMarker.read(sharedDir, conf).inflight,
        "a stale writer's inflight marker must clear at the next sync")
      assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(sharedDir, day)),
        "the trashed day must be renamed back")
      assert(total(broker.aql(wideQuery)) == before,
        "after the rollback the wave must settle to the exact count")
    }
  }
}
