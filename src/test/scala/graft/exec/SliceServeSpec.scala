package graft.exec

import graft.{SparkSpec, Tables}
import graft.api.GraftServer
import graft.aql.Catalog
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The drain→serve loop in slice mode (ref ownership-routed ingestion,
  * subscriber/common/job/streaming_processor.go:48-71): a member ingests
  * fresh rows over HTTP, its scheduler drain promotes the delta into the
  * SHARED archive, and the day's serving owner pulls it down
  * ([[SliceSync]]) — the fresh day is queryable behind the broker,
  * exactly once, with NO manual bootstrap or rebalance.
  */
class SliceServeSpec extends SparkSpec {

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

  test("slice mode: ingest, drain to shared, fresh day served once with no manual rebalance") {
    Tables.eventsArchived(spark, sfDir)
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    // private shared-archive copy — the drain MUTATES it
    val sharedDir = tmp("ss-shared")
    SliceBootstrap.copySlice(spark, Tables.eventsArchivePath(sfDir), sharedDir)
    val dirs = Map("a" -> tmp("ss-a"), "b" -> tmp("ss-b"))
    val topoDir = tmp("ss-topo")
    SliceRebalance.rebalance(spark, sharedDir, dirs, topoDir)

    val base = Catalog.testdata(sfDir)
    def member(slice: String): GraftServer = {
      val srv = new GraftServer(
        SliceRebalance.servingCatalog(base, dirs(slice), topoDir, slice,
          spark.sparkContext.hadoopConfiguration,
          sharedArchiveDir = sharedDir), spark)
      // the ServerMain slice wiring: drains target the shared archive,
      // this member pulls its served days right after its own drain
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

      // fresh rows for a brand-new day arrive at member a over HTTP
      val freshDay = "2030-01-01"
      val rows = (1 to 3).map(i =>
        s"""{"event_id": ${900000000L + i}, "ts": "$freshDay 12:0$i:00",
            "user_id": $i, "event_type": "fresh_et", "value": 1.5,
            "props": "{}"}""").mkString("[", ",", "]")
      val client = java.net.http.HttpClient.newHttpClient()
      val ing = client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(
          s"http://localhost:${pa.boundPort}/data/events"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(rows)).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(ing.statusCode() == 200, ing.body())

      // visible immediately from a's live overlay, counted once
      assert(total(broker.aql(wideQuery)) == before + 3,
        "fresh rows must serve from the ingesting member's overlay pre-drain")

      // scheduler drain: the delta promotes into the SHARED archive and
      // a's post-drain hook refreshes the days a serves
      pa.drain("events", sharedDir)
      assert(SliceBootstrap.localDays(spark, sharedDir).contains(freshDay),
        "drain must land the fresh day in the shared archive")

      // NO serving gap between the drain and the owner's sync tick: the
      // day's owner serves it from the SHARED archive while its local
      // cache still lacks it (rows were visible pre-drain; vanishing
      // until a sync tick would be a non-monotonic undercount window)
      assert(total(broker.aql(wideQuery)) == before + 3,
        "fresh day must keep serving (shared-archive fallback) before any sync")

      // the day's serving owner under the PUBLISHED assignment picks it
      // up on its periodic sync tick (extended ownership — no republish)
      val owner = SliceRebalance.extendedOwner(
        SliceRebalance.read(topoDir).get, freshDay).get
      SliceSync.sync(spark, sharedDir, dirs("b"), topoDir, "b")
      assert(SliceBootstrap.localDays(spark, dirs(owner)).contains(freshDay),
        s"extended owner $owner must hold the fresh day after sync")

      // post-drain: still exactly once through the assignment-aware pair
      assert(total(broker.aql(wideQuery)) == before + 3,
        "fresh day must serve exactly once after the drain")
    } finally Seq(pa, pb).foreach(_.stop())
  }

  test("grow window: a registered-but-unassigned member serves zero days, tier stays available") {
    Tables.eventsArchived(spark, sfDir)
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val sharedDir = tmp("gw-shared")
    SliceBootstrap.copySlice(spark, Tables.eventsArchivePath(sfDir), sharedDir)
    val dirs = Map("a" -> tmp("gw-a"), "b" -> tmp("gw-b"))
    val topoDir = tmp("gw-topo")
    SliceRebalance.rebalance(spark, sharedDir, dirs, topoDir)

    val base = Catalog.testdata(sfDir)
    def member(slice: String, dir: String): GraftServer = {
      val srv = new GraftServer(
        SliceRebalance.servingCatalog(base, dir, topoDir, slice,
          spark.sparkContext.hadoopConfiguration), spark)
      srv.start()
      srv
    }
    val pa = member("a", dirs("a"))
    val pb = member("b", dirs("b"))
    // the grow: member c registers into the fan-out with an EMPTY local
    // dir (it does not even exist yet) BEFORE any rebalance assigns it —
    // the exact topology state between "instance joins" and "rebalance
    // publishes". It must serve zero days, not error the whole scatter.
    val cDir = tmp("gw-c") + "/not-created-yet"
    val pc = member("c", cDir)
    try {
      val pair = new Broker(Seq(
        s"http://localhost:${pa.boundPort}", s"http://localhost:${pb.boundPort}"))
      val expected = total(pair.aql(wideQuery))
      val grown = new Broker(Seq(
        s"http://localhost:${pa.boundPort}", s"http://localhost:${pb.boundPort}",
        s"http://localhost:${pc.boundPort}"))
      assert(total(grown.aql(wideQuery)) == expected,
        "the grow window must answer exactly the pre-grow result")
      // after the rebalance assigns c its range, the trio still answers
      // exactly once per day
      SliceRebalance.rebalance(spark, sharedDir,
        dirs + ("c" -> cDir), topoDir)
      assert(total(grown.aql(wideQuery)) == expected,
        "post-assignment the moved days must serve exactly once")
      assert(SliceBootstrap.localDays(spark, cDir).nonEmpty,
        "the rebalance must have copied days into the new member")
    } finally Seq(pa, pb, pc).foreach(_.stop())
  }

  test("concurrent drains into the shared archive: the loser skips, loses nothing") {
    Tables.eventsArchived(spark, sfDir)
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val sharedDir = tmp("cd-shared")
    SliceBootstrap.copySlice(spark, Tables.eventsArchivePath(sfDir), sharedDir)
    val dirs = Map("a" -> tmp("cd-a"), "b" -> tmp("cd-b"))
    val topoDir = tmp("cd-topo")
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
    val client = java.net.http.HttpClient.newHttpClient()
    def ingest(srv: GraftServer, ids: Range): Unit = {
      val rows = ids.map(i =>
        s"""{"event_id": ${910000000L + i}, "ts": "2030-01-05 08:0${i % 10}:00",
            "user_id": $i, "event_type": "race_et", "value": 1.0,
            "props": "{}"}""").mkString("[", ",", "]")
      val r = client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(
          s"http://localhost:${srv.boundPort}/data/events"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(rows)).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200, r.body())
    }

    val pa = member("a")
    val pb = member("b")
    try {
      val broker = new Broker(Seq(
        s"http://localhost:${pa.boundPort}", s"http://localhost:${pb.boundPort}"))
      val before = total(broker.aql(wideQuery))
      // BOTH members hold fresh rows for the SAME day — the deployment
      // state where unsynchronized scheduler ticks race their drains
      ingest(pa, 1 to 3)
      ingest(pb, 4 to 6)
      assert(total(broker.aql(wideQuery)) == before + 6)

      // another member's drain is in flight: its cross-process lock is
      // held on the shared archive. a's drain must SKIP — keeping its
      // rows in the overlay and journal — not merge against a
      // mid-rewrite day (the read-merge-swap lost-update race)
      val io = GenerationLock.hadoop(
        new org.apache.hadoop.fs.Path(sharedDir),
        spark.sparkContext.hadoopConfiguration)
      GenerationLock.withLock(io, graft.ingest.PartitionSwap.LockName,
        graft.ingest.PartitionSwap.StaleMs,
        role = "drain", noun = "archive write lock") { _ =>
        pa.drain("events", sharedDir)
        assert(pa.hasLiveRows("events"),
          "a contended drain must keep the live overlay (skip, not wait)")
        assert(total(broker.aql(wideQuery)) == before + 6,
          "skipped drain must keep serving its rows from the overlay")
      }
      // lock released (the winner finished): both drains proceed in turn,
      // each merging against the other's committed rewrite
      pa.drain("events", sharedDir)
      assert(!pa.hasLiveRows("events"), "uncontended drain must promote")
      pb.drain("events", sharedDir)
      assert(total(broker.aql(wideQuery)) == before + 6,
        "after both drains every member's rows must be in the archive exactly once")
    } finally Seq(pa, pb).foreach(_.stop())
  }

  test("a purged day stops serving immediately, even from members' local caches") {
    Tables.eventsArchived(spark, sfDir)
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val sharedDir = tmp("pg-shared")
    SliceBootstrap.copySlice(spark, Tables.eventsArchivePath(sfDir), sharedDir)
    val dirs = Map("a" -> tmp("pg-a"), "b" -> tmp("pg-b"))
    val topoDir = tmp("pg-topo")
    SliceRebalance.rebalance(spark, sharedDir, dirs, topoDir)

    val base = Catalog.testdata(sfDir)
    def member(slice: String): GraftServer = {
      val srv = new GraftServer(
        SliceRebalance.servingCatalog(base, dirs(slice), topoDir, slice,
          spark.sparkContext.hadoopConfiguration,
          sharedArchiveDir = sharedDir), spark)
      srv.start()
      srv
    }
    val pa = member("a")
    val pb = member("b")
    try {
      val broker = new Broker(Seq(
        s"http://localhost:${pa.boundPort}", s"http://localhost:${pb.boundPort}"))
      val before = total(broker.aql(wideQuery))
      // retention: drop the archive's oldest day. Members still HOLD it
      // in their local caches (no sync runs) — it must stop serving NOW;
      // purged rows answering from caches is the compliance failure
      // retention exists to prevent
      val days = SliceBootstrap.localDays(spark, sharedDir)
      val cutoff = days(1) // delete exactly the oldest day
      import org.apache.spark.sql.functions.col
      val dropped = spark.read.parquet(sharedDir)
        .where(col(graft.ingest.Archiver.DayCol) < cutoff)
        .where(col("ts") >= org.apache.spark.sql.functions.timestamp_seconds(
          org.apache.spark.sql.functions.lit(1704067200L)))
        .count()
      assert(dropped > 0, "fixture has no rows in the purged day — test vacuous")
      val purged = graft.ingest.Archiver.purge(spark, sharedDir, cutoff)
      assert(purged == Seq(days.head), purged.toString)
      assert(SliceBootstrap.localDays(spark, dirs("a")).contains(days.head) ||
        SliceBootstrap.localDays(spark, dirs("b")).contains(days.head),
        "a member must still hold the purged day locally for the test to bite")
      assert(total(broker.aql(wideQuery)) == before - dropped,
        "purged day must stop serving immediately from every local cache")
    } finally Seq(pa, pb).foreach(_.stop())
  }

  test("ownership-routed ingestion: a non-owner forwards rows to the day's owner") {
    Tables.eventsArchived(spark, sfDir)
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val sharedDir = tmp("rt-shared")
    SliceBootstrap.copySlice(spark, Tables.eventsArchivePath(sfDir), sharedDir)
    val dirs = Map("a" -> tmp("rt-a"), "b" -> tmp("rt-b"))
    val topoDir = tmp("rt-topo")
    val membersDir = tmp("rt-members")
    SliceRebalance.rebalance(spark, sharedDir, dirs, topoDir)

    val base = Catalog.testdata(sfDir)
    def member(slice: String): GraftServer = {
      val srv = new GraftServer(
        SliceRebalance.servingCatalog(base, dirs(slice), topoDir, slice,
          spark.sparkContext.hadoopConfiguration,
          sharedArchiveDir = sharedDir), spark,
        ingestRouter = Some(new SliceRouter(topoDir, membersDir, slice)))
      srv.sliceServe("events", sharedDir,
        () => SliceSync.sync(spark, sharedDir, dirs(slice), topoDir, slice))
      srv.start()
      srv
    }
    val pa = member("a")
    val pb = member("b")
    val topo = new BrokerTopology(membersDir)
    val regA = topo.register("a", s"http://localhost:${pa.boundPort}")
    val regB = topo.register("b", s"http://localhost:${pb.boundPort}")
    try {
      val broker = new Broker(Seq(
        s"http://localhost:${pa.boundPort}", s"http://localhost:${pb.boundPort}"))
      val before = total(broker.aql(wideQuery))

      // an ARCHIVED row from a day slice b owns (the last assigned day)
      val a0 = SliceRebalance.read(topoDir).get
      val bDay = a0.owners("b").last
      import org.apache.spark.sql.functions.{col, date_format}
      val victim = spark.read.parquet(sharedDir)
        .where(col(graft.ingest.Archiver.DayCol) === bDay)
        .select(col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
          col("value")).first()
      val (vid, vts, vOld) =
        (victim.getLong(0), victim.getString(1), victim.getDouble(2))

      // a PK UPDATE for that row, POSTed at the NON-owner (member a):
      // without routing, a would serve the new version from its delta
      // while b keeps serving the archived one — the id answered twice
      val newValue = vOld + 1000.0
      val client = java.net.http.HttpClient.newHttpClient()
      val r = client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(
          s"http://localhost:${pa.boundPort}/data/events"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
            s"""[{"event_id": $vid, "ts": "$vts", "user_id": 1,
                  "event_type": "routed_et", "value": $newValue,
                  "props": "{}"}]""")).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200, r.body())
      assert(r.body().contains("\"rowsInserted\":1"), r.body())

      // the row landed at the OWNER, not the receiving member
      assert(!pa.hasLiveRows("events"), "non-owner must not keep routed rows")
      assert(pb.hasLiveRows("events"), "owner must hold the forwarded row")

      // exactly once, with the updated value: count unchanged (an update,
      // not an insert) and the id's value is the new one, once
      assert(total(broker.aql(wideQuery)) == before,
        "a PK update must not change the row count")
      val idQuery =
        s"""{"table": "events",
            "measures": [{"alias": "v", "sqlExpression": "sum(value)"}],
            "rowFilters": ["event_id = $vid"],
            "timeFilter": {"from": "1704067200", "to": "1900000000"},
            "now": 1900000000}"""
      assert(total(broker.aql(idQuery)) == newValue,
        "the updated value must serve exactly once")

      // an update written in local time with a negative offset: a row of
      // b's FIRST day before 05:00 UTC reads as the previous day — a's —
      // in -05:00 text, yet the overlay files it under b's day, so it
      // must route to b like any other row of that day
      import org.apache.spark.sql.functions.{expr, hour}
      val early = spark.read.parquet(sharedDir)
        .where(col(graft.ingest.Archiver.DayCol) === a0.owners("b").head &&
          hour(col("ts")) < 5)
        .select(col("event_id"), date_format(col("ts") - expr("INTERVAL 5 HOURS"),
          "yyyy-MM-dd'T'HH:mm:ss").as("local"), col("value")).first()
      val (eid, eLocal, eNew) =
        (early.getLong(0), early.getString(1), early.getDouble(2) + 1000.0)
      val r2 = client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(
          s"http://localhost:${pa.boundPort}/data/events"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
            s"""[{"event_id": $eid, "ts": "$eLocal-05:00", "user_id": 1,
                  "event_type": "routed_et", "value": $eNew,
                  "props": "{}"}]""")).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(r2.statusCode() == 200, r2.body())
      assert(!pa.hasLiveRows("events"), "an offset time must route by its UTC day")
      assert(total(broker.aql(wideQuery)) == before)
      assert(total(broker.aql(idQuery.replace(s"event_id = $vid", s"event_id = $eid"))) == eNew,
        "the offset-written update must serve exactly once")
    } finally {
      Seq(regA, regB).foreach(_.close())
      Seq(pa, pb).foreach(_.stop())
    }
  }

  test("slice mode: a member crash before its drain loses nothing (journal replay)") {
    // the two round-12 durability pieces COMPOSED: a slice member's live
    // overlay is journal-backed, so a crash between ingest and the
    // scheduler drain replays on restart and the broker answer is
    // unchanged; the later drain then promotes to the shared archive and
    // truncates the journal exactly as in the single-instance case
    Tables.eventsArchived(spark, sfDir)
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val sharedDir = tmp("sj-shared")
    SliceBootstrap.copySlice(spark, Tables.eventsArchivePath(sfDir), sharedDir)
    val dirs = Map("a" -> tmp("sj-a"), "b" -> tmp("sj-b"))
    val topoDir = tmp("sj-topo")
    val journalDir = tmp("sj-journal")
    SliceRebalance.rebalance(spark, sharedDir, dirs, topoDir)

    val base = Catalog.testdata(sfDir)
    def member(slice: String, jdir: Option[String]): GraftServer = {
      val srv = new GraftServer(
        SliceRebalance.servingCatalog(base, dirs(slice), topoDir, slice,
          spark.sparkContext.hadoopConfiguration), spark,
        journalDir = jdir)
      srv.sliceServe("events", sharedDir,
        () => SliceSync.sync(spark, sharedDir, dirs(slice), topoDir, slice))
      srv.start()
      srv
    }
    var pa = member("a", Some(journalDir))
    val pb = member("b", None)
    def broker() = new Broker(Seq(
      s"http://localhost:${pa.boundPort}", s"http://localhost:${pb.boundPort}"))
    try {
      val before = total(broker().aql(wideQuery))
      val rows = (1 to 2).map(i =>
        s"""{"event_id": ${910000000L + i}, "ts": "2030-02-02 08:0$i:00",
            "user_id": $i, "event_type": "crash_et", "value": 2.0,
            "props": "{}"}""").mkString("[", ",", "]")
      val client = java.net.http.HttpClient.newHttpClient()
      val ing = client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(
          s"http://localhost:${pa.boundPort}/data/events"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(rows)).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(ing.statusCode() == 200, ing.body())
      assert(total(broker().aql(wideQuery)) == before + 2)

      // crash member a with the rows still only in its overlay + journal
      pa.stop()
      pa = member("a", Some(journalDir))
      assert(total(broker().aql(wideQuery)) == before + 2,
        "journal replay must restore the slice member's overlay — the " +
          "broker answer cannot shrink across a member crash")

      // the deferred drain completes the loop: shared archive gains the
      // day, the journal truncates, nothing double-counts
      pa.drain("events", sharedDir)
      assert(SliceBootstrap.localDays(spark, sharedDir).contains("2030-02-02"))
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(journalDir, "events.redolog")),
        "drain must truncate the slice member's journal")
      SliceSync.sync(spark, sharedDir, dirs("b"), topoDir, "b")
      assert(total(broker().aql(wideQuery)) == before + 2,
        "post-drain: the fresh day serves exactly once")
    } finally Seq(pa, pb).foreach(_.stop())
  }

  test("two syncs of one local dir run one at a time: the day is copied once, whole") {
    // the post-drain hook and the scheduler tick both call SliceSync.sync
    // on the member's local dir; the first copy is held inside its staged
    // write while the second sync starts
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val day = "2030-03-03"
    val sharedDir = tmp("race-shared")
    // two data files: a copy torn between them would leave one behind
    spark.range(0, 200, 1, 2).selectExpr("id AS event_id")
      .write.parquet(s"$sharedDir/${graft.ingest.Archiver.DayCol}=$day")
    val localDir = s"latchfs://${tmp("race-local")}"
    val topoDir = tmp("race-topo") // no assignment published: every day is ours
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.latchfs.impl", classOf[StagingLatchFs].getName)
    conf.setBoolean("fs.latchfs.impl.disable.cache", true)
    // the drain marker's overwrite-rename goes through FileContext
    conf.set("fs.AbstractFileSystem.latchfs.impl", classOf[StagingLatchAfs].getName)
    def start() = {
      val out = new java.util.concurrent.atomic.AtomicReference[Either[Throwable, Seq[String]]]()
      val t = new Thread(() => out.set(
        try Right(SliceSync.sync(spark, sharedDir, localDir, topoDir, "a"))
        catch { case e: Throwable => Left(e) }))
      t.start()
      (t, out)
    }
    try {
      val (t1, r1) = start()
      assert(StagingLatchFs.entered.await(60, java.util.concurrent.TimeUnit.SECONDS),
        s"the first sync never reached its staged copy: ${r1.get}")
      val (t2, r2) = start()
      // the second sync either runs to the end or waits for the first
      def waitsForFirst = t2.getState == Thread.State.BLOCKED &&
        t2.getStackTrace.headOption.exists(_.getClassName.startsWith("graft.exec.SliceSync"))
      val deadline = System.nanoTime + 60000000000L
      while (t2.isAlive && !waitsForFirst && System.nanoTime < deadline) Thread.sleep(5)
      assert(!t2.isAlive || waitsForFirst, "the second sync neither finished nor waited")
      StagingLatchFs.release.countDown()
      Seq(t1, t2).foreach(_.join(60000))
      assert(!t1.isAlive && !t2.isAlive, "a sync did not return")
      val copied = Seq(r1.get, r2.get).flatMap {
        case Left(e) => fail(s"a sync threw: $e", e)
        case Right(days) => days
      }
      assert(SliceSync.fileSet(spark, localDir, day) == SliceSync.fileSet(spark, sharedDir, day),
        "the local copy must hold exactly the shared day's files")
      assert(copied == Seq(day), s"the day must be copied exactly once: $copied")
    } finally {
      StagingLatchFs.release.countDown()
      conf.unset("fs.latchfs.impl")
      conf.unset("fs.latchfs.impl.disable.cache")
      conf.unset("fs.AbstractFileSystem.latchfs.impl")
    }
  }
}

/** The local filesystem under the `latchfs:` scheme. The first parquet
  * file created under a partition's staging dir is held open, before any
  * byte is written, until `release`.
  */
class StagingLatchFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FSDataOutputStream, Path}
  override def getUri: java.net.URI = java.net.URI.create("latchfs:///")
  override def getScheme: String = "latchfs"
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: org.apache.hadoop.util.Progressable): FSDataOutputStream = {
    val out = super.create(f, overwrite, bufferSize, replication, blockSize, progress)
    if (f.toString.contains(s"/${graft.ingest.PartitionSwap.Staging}/") &&
        f.getName.endsWith(".parquet") && StagingLatchFs.armed.compareAndSet(true, false)) {
      StagingLatchFs.entered.countDown()
      StagingLatchFs.release.await(60, java.util.concurrent.TimeUnit.SECONDS)
    }
    out
  }
}

class StagingLatchAfs(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration)
  extends org.apache.hadoop.fs.DelegateToFileSystem(uri, new StagingLatchFs, conf,
    "latchfs", false)

object StagingLatchFs {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
  val entered = new java.util.concurrent.CountDownLatch(1)
  val release = new java.util.concurrent.CountDownLatch(1)
}
