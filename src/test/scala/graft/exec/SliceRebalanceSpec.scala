package graft.exec

import graft.{SparkSpec, Tables}
import graft.api.GraftServer
import graft.aql.Catalog
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Grow-the-cluster drill (ref controller/handlers/assignment.go:57-165,
  * placement.go:34-41): two members own the day space; a third joins;
  * [[SliceRebalance]] recomputes contiguous day ownership, copies the
  * moved days into the new member's local storage, DROPS them from the
  * old owners, and publishes a version-bumped assignment — after which
  * the broker's merged answers are unchanged and the re-run is a no-op.
  */
class SliceRebalanceSpec extends SparkSpec {

  private def countQuery: String =
    s"""{"table": "events",
        "measures": [{"alias": "value", "sqlExpression": "count(*)"}],
        "dimensions": [{"alias": "et", "sqlExpression": "event_type"}],
        "timeFilter": {"from": "1704067200"}, "now": 1706659200}"""

  private def normalize(v: JValue): String = JsonMethods.compact(JsonMethods.render(
    v match {
      case JObject(fields) => JObject(fields.sortBy(_._1))
      case other => other
    }))

  test("ownership: contiguous, total, near-equal; survivors shift by bounded ranges") {
    val days = (1 to 10).map(i => f"2024-01-$i%02d")
    val two = SliceRebalance.ownership(days, Seq("b", "a"))
    assert(two("a") == days.take(5) && two("b") == days.drop(5)) // sorted ids
    val three = SliceRebalance.ownership(days, Seq("a", "b", "c"))
    assert(three("a") == days.take(4) && three("b") == days.slice(4, 7) &&
      three("c") == days.drop(7)) // 4+3+3: first slice carries the extra
    // every day owned exactly once
    assert(three.values.flatten.toSeq.sorted == days)
    // survivors keep PREFIXES of their old ranges — only boundary days move
    assert(three("a") == two("a").take(4))
    assert(three("b").forall(two("b").contains) || three("b").forall(two("a").contains) ||
      three("b") == days.slice(4, 7))
    // more slices than days: trailing slices own empty ranges
    val wide = SliceRebalance.ownership(Seq("2024-01-01"), Seq("a", "b"))
    assert(wide("a") == Seq("2024-01-01") && wide("b").isEmpty)
  }

  test("grow 2 to 3: merged answers identical, moved days change owner, re-run no-op") {
    Tables.eventsArchived(spark, sfDir)
    val sharedDir = Tables.eventsArchivePath(sfDir)
    val allDays = SliceBootstrap.localDays(spark, sharedDir)
    assert(allDays.size >= 3, s"fixture too small: $allDays")

    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val dirs2 = Map("a" -> tmp("reb-a"), "b" -> tmp("reb-b"))
    val topoDir = tmp("reb-topo")

    // ---- initial placement over two members ------------------------------
    val v1 = SliceRebalance.rebalance(spark, sharedDir, dirs2, topoDir)
    assert(v1.version == 1L)
    dirs2.foreach { case (slice, dir) =>
      assert(SliceBootstrap.localDays(spark, dir) == v1.owners(slice),
        s"slice $slice local storage != owned days")
    }
    assert(v1.owners.values.flatten.toSeq.sorted == allDays)

    val base = Catalog.testdata(sfDir)
    val whole = new GraftServer(base, spark)
    // assignment-aware serving: each member answers ONLY for days the
    // published assignment grants it, so over-replicated storage can
    // never double count
    val pa = new GraftServer(
      SliceRebalance.servingCatalog(base, dirs2("a"), topoDir, "a",
        spark.sparkContext.hadoopConfiguration), spark)
    val pb = new GraftServer(
      SliceRebalance.servingCatalog(base, dirs2("b"), topoDir, "b",
        spark.sparkContext.hadoopConfiguration), spark)
    Seq(whole, pa, pb).foreach(_.start())
    val client = java.net.http.HttpClient.newHttpClient()
    def answer(port: Int): String = {
      val resp = client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(
          s"http://localhost:$port/query/aql"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
            s"""{"queries": [$countQuery]}""")).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      normalize((JsonMethods.parse(resp.body()) \ "results")(0))
    }
    try {
      val expected = answer(whole.boundPort)
      val broker2 = new Broker(Seq(
        s"http://localhost:${pa.boundPort}", s"http://localhost:${pb.boundPort}"))
      assert(normalize((JsonMethods.parse(broker2.aql(countQuery)): JValue)) == expected,
        "2-member merge != whole table")

      // ---- member c joins: rebalance ------------------------------------
      val dirs3 = dirs2 + ("c" -> tmp("reb-c"))
      val v2 = SliceRebalance.rebalance(spark, sharedDir, dirs3, topoDir)
      assert(v2.version == 2L, "ownership changed, version must bump")
      assert(v2.owners != v1.owners)
      assert(v2.owners.values.flatten.toSeq.sorted == allDays)
      dirs3.foreach { case (slice, dir) =>
        assert(SliceBootstrap.localDays(spark, dir) == v2.owners(slice),
          s"post-grow slice $slice: local storage != owned days " +
            s"(moved days not dropped from the old owner?)")
      }
      // the new member genuinely took days off the old owners
      assert(v2.owners("c").nonEmpty)
      assert(v2.owners("c").forall(d =>
        v1.owners("a").contains(d) || v1.owners("b").contains(d)))

      // merged answers identical through the NEW 3-member placement
      val pc = new GraftServer(
        SliceRebalance.servingCatalog(base, dirs3("c"), topoDir, "c",
          spark.sparkContext.hadoopConfiguration), spark)
      pc.start()
      try {
        val broker3 = new Broker(Seq(
          s"http://localhost:${pa.boundPort}", s"http://localhost:${pb.boundPort}",
          s"http://localhost:${pc.boundPort}"))
        assert(normalize((JsonMethods.parse(broker3.aql(countQuery)): JValue)) == expected,
          "3-member merge != whole table after rebalance")
        // and the new instance serves real days: dropping it breaks the merge
        val without = new Broker(Seq(
          s"http://localhost:${pa.boundPort}", s"http://localhost:${pb.boundPort}"))
        assert(normalize((JsonMethods.parse(without.aql(countQuery)): JValue)) != expected,
          "c owns days nobody else serves, so omitting it must change the answer")

        // ---- idempotent re-run: same owners, same version, no copies ----
        val v2again = SliceRebalance.rebalance(spark, sharedDir, dirs3, topoDir)
        assert(v2again == v2, "re-run must not bump the version or move data")
        assert(SliceRebalance.read(topoDir).contains(v2))
        assert(normalize((JsonMethods.parse(broker3.aql(countQuery)): JValue)) == expected)

        // ---- over-replication cannot double count: copy one of a's
        // owned days into c's storage WITHOUT dropping it anywhere (the
        // mid-rebalance / crashed-drop window) — assignment-aware serving
        // keeps the merged answer exact
        val aDay = v2.owners("a").head
        SliceBootstrap.copyDays(spark, sharedDir, dirs3("c"), Set(aDay))
        assert(SliceBootstrap.localDays(spark, dirs3("c")).contains(aDay))
        assert(normalize((JsonMethods.parse(broker3.aql(countQuery)): JValue)) == expected,
          "an over-replicated day was double counted")
        SliceBootstrap.retainDays(spark, dirs3("c"), v2.owners("c").toSet)
      } finally pc.stop()
    } finally Seq(whole, pa, pb).foreach(_.stop())
  }

  test("startup typo guard: established member absent from the assignment fails at construction") {
    Tables.eventsArchived(spark, sfDir)
    val sharedDir = Tables.eventsArchivePath(sfDir)
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val dirs = Map("a" -> tmp("typo-a"), "b" -> tmp("typo-b"))
    val topoDir = tmp("typo-topo")
    SliceRebalance.rebalance(spark, sharedDir, dirs, topoDir)
    val base = Catalog.testdata(sfDir)

    // member 'a' restarted with SPARK_GRAFT_SLICE=a1 (a typo): its local
    // store already holds day partitions, so serving zero days would be a
    // silent undercount behind a static-hosts broker (which performs no
    // assignment-coverage check) — this must fail AT STARTUP, loudly
    val e = intercept[IllegalStateException](
      SliceRebalance.servingCatalog(base, dirs("a"), topoDir, "a1",
        spark.sparkContext.hadoopConfiguration))
    assert(e.getMessage.contains("a1") &&
      e.getMessage.contains("SPARK_GRAFT_SLICE"), e.getMessage)

    // a genuinely FRESH member mid-grow (empty local store, not yet
    // assigned) still constructs and serves zero days until the rebalance
    val freshDir = tmp("typo-fresh")
    val cat = SliceRebalance.servingCatalog(base, freshDir, topoDir, "c",
      spark.sparkContext.hadoopConfiguration)
    assert(cat.tables("events").load(spark).count() == 0L)

    // and the correctly-configured established member still serves
    val ok = SliceRebalance.servingCatalog(base, dirs("a"), topoDir, "a",
      spark.sparkContext.hadoopConfiguration)
    assert(ok.tables("events").load(spark).count() > 0L)
  }

  test("the startup typo guard lists the local store through the session's Hadoop conf") {
    // `sessfs:` is mapped in the session's conf only, the way s3a
    // credentials or hdfs HA names are: a listing through a fresh
    // Configuration cannot open this store at all
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.sessfs.impl", classOf[SessionSchemeFs].getName)
    conf.setBoolean("fs.sessfs.impl.disable.cache", true)
    try {
      val local = java.nio.file.Files.createTempDirectory("sessfs-local")
      java.nio.file.Files.createDirectories(local.resolve("day=2024-01-01"))
      val topoDir = java.nio.file.Files.createTempDirectory("sessfs-topo")
      java.nio.file.Files.writeString(topoDir.resolve("assignment.json"),
        """{"version": 1, "owners": {"a": ["2024-01-01"]}}""")
      val e = intercept[IllegalStateException](
        SliceRebalance.servingCatalog(Catalog.testdata(sfDir), s"sessfs://$local",
          topoDir.toString, "a1", conf))
      assert(e.getMessage.contains("a1") &&
        e.getMessage.contains("SPARK_GRAFT_SLICE"), e.getMessage)
    } finally {
      conf.unset("fs.sessfs.impl")
      conf.unset("fs.sessfs.impl.disable.cache")
    }
  }

  test("publish fencing: racing rebalances resolve to one winner; the loser aborts by name, drops nothing") {
    Tables.eventsArchived(spark, sfDir)
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val sharedDir = Tables.eventsArchivePath(sfDir)
    val topoDir = tmp("rebf-topo")
    val dirsAB = Map("a" -> tmp("rebf-a"), "b" -> tmp("rebf-b"))
    val dirsABC = dirsAB + ("c" -> tmp("rebf-c"))

    // Two concurrent `--watch` rebalancers both read the same base view
    // (no assignment yet) before either publishes — the interleaving is
    // expressed deterministically by capturing the fence both would have
    // read. Watcher 1 (members a,b) wins the race:
    val fence = SliceRebalance.read(topoDir).map(_.version)
    val v1 = SliceRebalance.rebalanceDetailed(
      spark, sharedDir, dirsAB, topoDir, fence).assignment
    assert(v1.version == 1L)

    // Watcher 2 (members a,b,c — a DIFFERENT ownership view) computed
    // against the same stale base; its publish must refuse by name and
    // abort BEFORE its drop phase.
    val daysBefore = dirsABC.map { case (s, d) =>
      s -> SliceBootstrap.localDays(spark, d) }
    val e = intercept[IllegalStateException] {
      SliceRebalance.rebalanceDetailed(spark, sharedDir, dirsABC, topoDir, fence)
    }
    assert(e.getMessage.contains("rebalance fenced"), e.getMessage)
    // the winner's publication stands untouched
    assert(SliceRebalance.read(topoDir).contains(v1))
    // the loser dropped NOTHING under its divergent view: every member
    // still holds at least its pre-race days (the loser's copy phase may
    // have ADDED days to c — over-replication, the safe direction, GC'd
    // by the next successful rebalance)
    dirsABC.foreach { case (s, d) =>
      val now = SliceBootstrap.localDays(spark, d)
      assert(daysBefore(s).forall(now.contains),
        s"the fenced loser dropped days from member '$s'")
    }

    // a rebalance over the CURRENT assignment (fresh fence) succeeds
    val v2 = SliceRebalance.rebalanceDetailed(
      spark, sharedDir, dirsABC, topoDir).assignment
    assert(v2.version == 2L && v2.owners.keySet == Set("a", "b", "c"))

    // a FRESH foreign publish lock aborts by name (another publisher is
    // in its check-and-rename window)...
    val lock = java.nio.file.Paths.get(topoDir, ".assignment.lock.g1")
    java.nio.file.Files.createFile(lock)
    val e2 = intercept[IllegalStateException] {
      SliceRebalance.rebalanceDetailed(spark, sharedDir, dirsABC, topoDir)
    }
    assert(e2.getMessage.contains("publish lock"), e2.getMessage)
    // ...while a STALE one (crashed publisher) is taken over automatically
    java.nio.file.Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 120000L))
    val v2again = SliceRebalance.rebalanceDetailed(
      spark, sharedDir, dirsABC, topoDir).assignment
    assert(v2again == v2, "takeover re-run must be the idempotent no-op")
    assert(!java.nio.file.Files.exists(lock),
      "the stale generation must be reaped by the takeover winner")
    val locks = lockFiles(topoDir)
    assert(locks.isEmpty, s"no lock generation may outlive its publish: $locks")
  }

  /** Lock-file names currently present in a topology dir (stream closed). */
  private def lockFiles(dir: String): List[String] = {
    val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    try {
      val it = s.iterator()
      var out = List.empty[String]
      while (it.hasNext) {
        val n = it.next().getFileName.toString
        if (n.startsWith(".assignment.lock")) out ::= n
      }
      out
    } finally s.close()
  }

  test("concurrent stale-lock takeover admits at most one publisher") {
    // The hazard: two publishers BOTH observe a stale lock and both
    // reclaim it. Any protocol that VACATES the lock path during reclaim
    // (delete-then-recreate, or rename-away — both prior designs) opens
    // a window where a winner is inside while the path is empty, and a
    // concurrent createFile puts a second publisher in too: this 8-thread
    // hammer reproduced 2-3 concurrent entrants against both. The
    // generation ladder never vacates — reclaim = createFile of the NEXT
    // generation, atomic and single-winner by construction.
    val topo = java.nio.file.Files.createTempDirectory("rebl-topo").toString
    val lock = java.nio.file.Paths.get(topo, ".assignment.lock.g1")
    java.nio.file.Files.createFile(lock)
    java.nio.file.Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 120000L))
    val inside = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxInside = new java.util.concurrent.atomic.AtomicInteger(0)
    val entered = new java.util.concurrent.atomic.AtomicInteger(0)
    val aborted = new java.util.concurrent.atomic.AtomicInteger(0)
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = (1 to 8).map { _ =>
      new Thread(() => {
        start.await()
        try SliceRebalance.withPublishLock(topo) { _ =>
          val n = inside.incrementAndGet()
          maxInside.updateAndGet(m => math.max(m, n))
          entered.incrementAndGet()
          Thread.sleep(30)
          inside.decrementAndGet()
        } catch {
          case e: IllegalStateException
            if e.getMessage.contains("rebalance fenced") =>
            aborted.incrementAndGet()
        }
      })
    }
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join(30000))
    assert(maxInside.get == 1,
      s"${maxInside.get} publishers entered the critical section concurrently")
    assert(entered.get >= 1, "no thread reclaimed the stale lock")
    assert(entered.get + aborted.get == 8,
      s"entered=${entered.get} aborted=${aborted.get} — a thread died unnamed")
    val locks = lockFiles(topo)
    assert(locks.isEmpty, s"every generation must be reaped or released: $locks")
  }

  test("a reclaimed stalled publisher cannot delete or publish over its successor (nonce identity)") {
    // Generations RESET after a full release, so a generation number does
    // not identify a holder: publisher A stalls 60s+ inside the critical
    // section, B reclaims g2 (reaping A's g1) and releases (ladder
    // empty), C acquires a FRESH g1. A wakes: its commit-point
    // stillHeld() must fence (its nonce is gone), and its release must
    // NOT delete C's identically-numbered live lock.
    val topo = java.nio.file.Files.createTempDirectory("rebn-topo").toString
    val aEntered = new java.util.concurrent.CountDownLatch(1)
    val aResume = new java.util.concurrent.CountDownLatch(1)
    val aFenced = new java.util.concurrent.atomic.AtomicBoolean(false)
    val a = new Thread(() => {
      try SliceRebalance.withPublishLock(topo) { stillHeld =>
        aEntered.countDown()
        aResume.await()
        stillHeld() // the commit-point re-check publish runs before its rename
      } catch {
        case e: IllegalStateException if e.getMessage.contains("deposed") =>
          aFenced.set(true)
      }
    })
    a.start()
    assert(aEntered.await(10, java.util.concurrent.TimeUnit.SECONDS))
    // simulate A's stall: age its lock past the staleness bound
    val g1 = java.nio.file.Paths.get(topo, ".assignment.lock.g1")
    java.nio.file.Files.setLastModifiedTime(g1,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 120000L))
    // B reclaims through g2, reaps A's g1, releases — ladder resets
    SliceRebalance.withPublishLock(topo) { _ => () }
    assert(lockFiles(topo).isEmpty, "B must reap A's stale g1 and release g2")
    // C acquires a fresh, identically-numbered g1 and stays inside
    val cEntered = new java.util.concurrent.CountDownLatch(1)
    val cResume = new java.util.concurrent.CountDownLatch(1)
    val cClean = new java.util.concurrent.atomic.AtomicBoolean(false)
    val c = new Thread(() => {
      SliceRebalance.withPublishLock(topo) { stillHeld =>
        cEntered.countDown()
        cResume.await()
        stillHeld() // C was never deposed — must NOT throw
        cClean.set(true)
      }
    })
    c.start()
    assert(cEntered.await(10, java.util.concurrent.TimeUnit.SECONDS))
    // A wakes while C is inside
    aResume.countDown()
    a.join(10000)
    assert(aFenced.get, "A's commit-point stillHeld must fence by name")
    assert(java.nio.file.Files.exists(g1),
      "A's release must not delete C's identically-numbered live lock")
    cResume.countDown()
    c.join(10000)
    assert(cClean.get, "C must complete untouched")
    assert(lockFiles(topo).isEmpty, "C's release cleans the ladder")
  }

  test("a legacy pre-ladder lock file still fences and gets reaped") {
    val topo = java.nio.file.Files.createTempDirectory("rebv-topo").toString
    val legacy = java.nio.file.Paths.get(topo, ".assignment.lock")
    java.nio.file.Files.createFile(legacy)
    // fresh legacy lock: a rolling-upgrade old-binary publisher is inside
    val e = intercept[IllegalStateException] {
      SliceRebalance.withPublishLock(topo) { _ => () }
    }
    assert(e.getMessage.contains("publish lock"), e.getMessage)
    // stale legacy lock: crashed old binary — reclaimed and reaped
    java.nio.file.Files.setLastModifiedTime(legacy,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 120000L))
    var ran = false
    SliceRebalance.withPublishLock(topo) { _ => ran = true }
    assert(ran)
    assert(lockFiles(topo).isEmpty,
      "the stale legacy lock must be reaped and the ladder released")
  }

  test("a locally-drained fresh day survives rebalance: merged up, owned once, queryable") {
    import org.apache.spark.sql.functions._
    Tables.eventsArchived(spark, sfDir)
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    // private copy of the shared archive — this test MUTATES it (merge-up)
    val sharedDir = tmp("rebm-shared")
    SliceBootstrap.copySlice(spark, Tables.eventsArchivePath(sfDir), sharedDir)
    val dirs = Map("a" -> tmp("rebm-a"), "b" -> tmp("rebm-b"))
    val topoDir = tmp("rebm-topo")
    SliceRebalance.rebalance(spark, sharedDir, dirs, topoDir)

    // member a's scheduler drained a FRESH day into its LOCAL storage only
    // (the default wiring unless the operator pointed the archive root at
    // shared storage): simulate with an archive write staged into a's dir
    val freshDay = "2030-01-01"
    val freshRows = spark.read.parquet(sharedDir)
      .drop(graft.ingest.Archiver.DayCol).limit(7)
      .withColumn("ts", to_timestamp(lit(s"$freshDay 12:00:00")))
    val freshCount = freshRows.count()
    val stage = tmp("rebm-stage")
    graft.ingest.Archiver.archive(freshRows, "ts", Tables.EventsSortCols, stage)
    SliceBootstrap.copyDays(spark, stage, dirs("a"), Set(freshDay))
    assert(SliceBootstrap.localDays(spark, dirs("a")).contains(freshDay))
    assert(!SliceBootstrap.localDays(spark, sharedDir).contains(freshDay))
    val sharedBefore = spark.read.parquet(sharedDir).count()

    // the unguarded behavior would DELETE a's fresh day here (absent from
    // the shared day list, owned by nobody); the guarded rebalance merges
    // it up and assigns it exactly one owner instead
    val r = SliceRebalance.rebalanceDetailed(spark, sharedDir, dirs, topoDir)
    assert(r.mergedUp.getOrElse("a", Nil).contains(freshDay),
      s"fresh day not merged up: $r")
    assert(SliceBootstrap.localDays(spark, sharedDir).contains(freshDay))
    assert(spark.read.parquet(sharedDir).count() == sharedBefore + freshCount)
    val freshOwners = r.assignment.owners.filter(_._2.contains(freshDay)).keys.toSeq
    assert(freshOwners.size == 1, s"fresh day owned by $freshOwners")
    assert(SliceBootstrap.localDays(spark, dirs(freshOwners.head)).contains(freshDay),
      "the owner's local storage must hold the merged day")
    assert(r.protectedDays.isEmpty, s"unexpected protected days: ${r.protectedDays}")

    // loud-skip guard, directly: a day NOT fully present in shared is
    // refused by the guarded drop even when the keep set excludes it
    val conflictDay = "2030-02-02"
    val conflictRows = freshRows.withColumn("ts", to_timestamp(lit(s"$conflictDay 12:00:00")))
    val stage2 = tmp("rebm-stage2")
    graft.ingest.Archiver.archive(conflictRows, "ts", Tables.EventsSortCols, stage2)
    SliceBootstrap.copyDays(spark, stage2, dirs("b"), Set(conflictDay))
    val (dropped, skipped) = SliceRebalance.retainDaysGuarded(spark, dirs("b"),
      r.assignment.owners("b").toSet,
      day => SliceBootstrap.localDays(spark, sharedDir).contains(day))
    assert(dropped.isEmpty && skipped == Seq(conflictDay),
      s"dropped=$dropped skipped=$skipped")
    assert(SliceBootstrap.localDays(spark, dirs("b")).contains(conflictDay),
      "the guard must leave the only copy on disk")
    // clean the conflict so the serving check below sees consistent state
    SliceBootstrap.retainDays(spark, dirs("b"),
      r.assignment.owners("b").toSet)

    // the fresh rows are queryable through assignment-aware members, once
    val base = Catalog.testdata(sfDir)
    val pa = new GraftServer(
      SliceRebalance.servingCatalog(base, dirs("a"), topoDir, "a",
        spark.sparkContext.hadoopConfiguration), spark)
    val pb = new GraftServer(
      SliceRebalance.servingCatalog(base, dirs("b"), topoDir, "b",
        spark.sparkContext.hadoopConfiguration), spark)
    Seq(pa, pb).foreach(_.start())
    try {
      val broker = new Broker(Seq(
        s"http://localhost:${pa.boundPort}", s"http://localhost:${pb.boundPort}"))
      val wideQuery =
        s"""{"table": "events",
            "measures": [{"alias": "value", "sqlExpression": "count(*)"}],
            "dimensions": [{"alias": "et", "sqlExpression": "event_type"}],
            "timeFilter": {"from": "1704067200", "to": "1900000000"},
            "now": 1900000000}"""
      val merged = JsonMethods.parse(broker.aql(wideQuery))
      val total = merged match {
        case JObject(fields) => fields.map {
          case (_, JDouble(d)) => d
          case (_, JInt(i)) => i.toDouble
          case other => fail(s"unexpected leaf $other")
        }.sum
        case other => fail(s"unexpected merged shape $other")
      }
      assert(total == (sharedBefore + freshCount).toDouble,
        s"merged total $total != shared archive rows ${sharedBefore + freshCount}")
    } finally Seq(pa, pb).foreach(_.stop())
  }
}

/** The local filesystem under the `sessfs:` scheme, which only a
  * configuration that maps `fs.sessfs.impl` can open. */
class SessionSchemeFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("sessfs:///")
  override def getScheme: String = "sessfs"
}
