package graft

import org.apache.spark.sql.SparkSession

/** Standalone server entrypoint: the deployment unit DEPLOYMENT.md
  * describes. Builds (or joins) a SparkSession and serves the full HTTP
  * facade — query (AQL/SQL/HLL), ingestion (JSON + reference binary
  * upsert batches), schema mutation, metrics, plan debug.
  *
  *   SPARK_GRAFT_SF_DIR      table directory (default /root/testdata/sf0.01)
  *   SPARK_GRAFT_PORT        HTTP port (default 19374; 0 = ephemeral)
  *   SPARK_GRAFT_CPUS        local[] parallelism when not under spark-submit
  *   SPARK_GRAFT_SCHEMA_DIR  shared schema-sync directory (optional) —
  *                           instances pointed at the same dir propagate
  *                           schema mutations to each other (SchemaSync)
  *   SPARK_GRAFT_ARCHIVE_ROOT  root directory for scheduler-driven drains
  *                           (default target/graft-archive); the periodic
  *                           job scheduler archives/backfills/snapshots/
  *                           purges per table-config intervals
  *   SPARK_GRAFT_TICK_SECONDS  scheduler tick (default 60, like the
  *                           reference's minute-grain scheduler loop;
  *                           0 disables the scheduler)
  *   SPARK_GRAFT_MEMBERS_DIR  shared broker-membership directory
  *                           (optional): the instance registers itself
  *                           and heartbeats, joining any dynamic broker's
  *                           fan-out (BrokerTopology)
  *   SPARK_GRAFT_SLICE       slice id for membership registration
  *                           (default "s0"); instances sharing a slice id
  *                           are replicas of the same data slice
  *   SPARK_GRAFT_ADVERTISE   base URL to register (default
  *                           http://localhost:<boundPort>)
  *   SPARK_GRAFT_SERVER_THREADS  bound on concurrent HTTP exchanges
  *                           (default 8) — the reference's
  *                           max-connection knobs (ares.yaml:17-22)
  *   SPARK_GRAFT_QUERY_TIMEOUT_SEC  per-query deadline in seconds
  *                           (default 0 = none); a query past the
  *                           deadline has its Spark jobs cancelled and
  *                           returns a named error
  *   SPARK_GRAFT_MAX_QUERY_CONN / SPARK_GRAFT_MAX_INGEST_CONN
  *                           separate admission bounds for the query
  *                           and data endpoints (0 = unbounded) —
  *                           excess requests 503 fast instead of
  *                           queueing (the reference's 300 query + 300
  *                           ingestion split, ares.yaml:17-22)
  *   SPARK_GRAFT_LOCAL_STORE + SPARK_GRAFT_TOPOLOGY_DIR  (with
  *                           SPARK_GRAFT_SLICE) assignment-aware slice
  *                           serving: events load from instance-local
  *                           storage filtered to the days the published
  *                           assignment grants this slice (see
  *                           RebalanceMain / SliceRebalance)
  *   SPARK_GRAFT_SHARED_ARCHIVE  (slice mode) the shared authoritative
  *                           events archive: scheduler drains of events
  *                           promote the live delta THERE (Backfill),
  *                           serving stays assignment-aware, and each
  *                           member pulls down the days it serves
  *                           (SliceSync — immediately after its own
  *                           drain, per scheduler tick for peers'
  *                           drains), so fresh data is queryable behind
  *                           the broker with no manual rebalance.
  *                           Without it, slice-mode events drains are
  *                           unsafe (the drained dir would bypass the
  *                           per-query assignment filter) — leave
  *                           events ingestion off slice members in that
  *                           case
  *   SPARK_GRAFT_JOURNAL_DIR  HTTP-ingest redo log directory (default
  *                           <archive root>/_journal; "" disables):
  *                           /data batches append here before apply and
  *                           replay on restart, so HTTP-ingested rows
  *                           survive a crash; drains truncate it
  */
object ServerMain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val port = sys.env.getOrElse("SPARK_GRAFT_PORT", "19374").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val schemaDir = sys.env.get("SPARK_GRAFT_SCHEMA_DIR").filter(_.nonEmpty)
    // under spark-submit the master/conf come from the submit command; the
    // setIfMissing-style defaults below only bind for bare `java -cp` runs
    // assignment-aware slice serving (optional): with all three set, the
    // events fact table serves from instance-local storage FILTERED to
    // the days the published assignment grants this slice — the
    // rebalance-safe serving mode (SliceRebalance.servingCatalog)
    val localStore = sys.env.get("SPARK_GRAFT_LOCAL_STORE").filter(_.nonEmpty)
    val topologyDir = sys.env.get("SPARK_GRAFT_TOPOLOGY_DIR").filter(_.nonEmpty)
    val spark = SparkSession.builder()
      .master(sys.props.getOrElse("spark.master", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val baseCatalog = graft.aql.Catalog.testdata(sfDir)
    val catalog = (localStore, topologyDir) match {
      case (Some(local), Some(topo)) =>
        val slice = sys.env.getOrElse("SPARK_GRAFT_SLICE", "s0")
        // with a shared archive configured, owned days the local cache
        // lacks serve straight from it (no fresh-day gap between a peer's
        // drain and this member's sync tick)
        val shared = sys.env.getOrElse("SPARK_GRAFT_SHARED_ARCHIVE", "")
        println(s"[graft] assignment-aware serving: slice $slice from $local, " +
          s"assignment at $topo" +
          (if (shared.nonEmpty) s", shared fallback $shared" else ""))
        graft.exec.SliceRebalance.servingCatalog(baseCatalog, local, topo, slice,
          spark.sparkContext.hadoopConfiguration,
          sharedArchiveDir = shared)
      case _ => baseCatalog
    }
    val server = new graft.api.GraftServer(
      catalog, spark, port,
      schemaSyncDir = schemaDir,
      // serving concurrency + per-query deadline (ref ares.yaml:17-22)
      serverThreads =
        sys.env.getOrElse("SPARK_GRAFT_SERVER_THREADS", "8").toInt,
      queryTimeoutSec =
        sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_SEC", "0").toLong,
      maxQueryConnections =
        sys.env.getOrElse("SPARK_GRAFT_MAX_QUERY_CONN", "0").toInt,
      maxIngestConnections =
        sys.env.getOrElse("SPARK_GRAFT_MAX_INGEST_CONN", "0").toInt,
      // HTTP-ingest redo log (ref redolog/file_redolog_manager.go):
      // default ON under the archive root — rows POSTed to /data survive
      // a crash/restart; set SPARK_GRAFT_JOURNAL_DIR="" to disable
      journalDir = sys.env.get("SPARK_GRAFT_JOURNAL_DIR")
        .orElse(Some(sys.env.getOrElse("SPARK_GRAFT_ARCHIVE_ROOT",
          "target/graft-archive") + "/_journal")).filter(_.nonEmpty),
      // size-triggered journal rotation (ref rotates redo-log files at
      // maxRedoLogFileSize): a table's journal outgrowing the bound
      // drains inline — default 256 MB, 0 disables
      journalByteLimit =
        sys.env.getOrElse("SPARK_GRAFT_JOURNAL_LIMIT_BYTES", (256L << 20).toString).toLong,
      // first-rotation autodrains target <archiveRoot>/<table> — never
      // the journal root, which operators may treat as wipeable
      archiveRoot = Some(sys.env.getOrElse("SPARK_GRAFT_ARCHIVE_ROOT",
        "target/graft-archive")),
      // ownership-routed ingestion (slice mode with a member registry):
      // rows whose day another slice serves forward to that slice's live
      // member — a PK update applied at a non-owner would split the row
      ingestRouter = (localStore, topologyDir,
          sys.env.get("SPARK_GRAFT_MEMBERS_DIR").filter(_.nonEmpty)) match {
        case (Some(_), Some(topo), Some(members)) =>
          Some(new graft.exec.SliceRouter(topo, members,
            sys.env.getOrElse("SPARK_GRAFT_SLICE", "s0")))
        case _ => None
      })
    server.start()
    // slice-mode drain→serve loop: with a shared archive configured,
    // events drains land in the SHARED archive (delta-promoted) and each
    // member pulls down the days it serves — immediately after its own
    // drains, and per scheduler tick for days a PEER drained. Fresh data
    // is queryable behind the broker with no manual bootstrap/rebalance.
    val sharedArchive = sys.env.get("SPARK_GRAFT_SHARED_ARCHIVE").filter(_.nonEmpty)
    val sliceSync: Option[() => Unit] = (localStore, topologyDir, sharedArchive) match {
      case (Some(local), Some(topo), Some(shared)) =>
        val slice = sys.env.getOrElse("SPARK_GRAFT_SLICE", "s0")
        val doSync = () => {
          val synced = graft.exec.SliceSync.sync(spark, shared, local, topo, slice)
          if (synced.nonEmpty)
            println(s"[graft] slice sync refreshed days: ${synced.mkString(", ")}")
        }
        // per-query delta scoping: a day a rebalance moved away serves at
        // its NEW owner; this member's leftover delta rows for it serve
        // only where their PK is absent from the shared copy (stranded
        // inserts — the only copy anywhere), and hand off for good via
        // the moved-days drain job below (see GraftServer.layeredLoad)
        val ownedDay = () => graft.exec.SliceRebalance.read(topo).map { a =>
          (d: String) => graft.exec.SliceRebalance.extendedOwner(a, d).contains(slice)
        }
        server.sliceServe("events", shared, doSync, ownedDay)
        println(s"[graft] slice-mode events drains target shared archive $shared")
        Some(doSync)
      case _ => None
    }
    val tickSeconds = sys.env.getOrElse("SPARK_GRAFT_TICK_SECONDS", "60").toLong
    if (tickSeconds > 0) {
      val root = sys.env.getOrElse("SPARK_GRAFT_ARCHIVE_ROOT", "target/graft-archive")
      val sched = new graft.ingest.JobScheduler(server, root, tickSeconds = tickSeconds)
      sliceSync.foreach(s => sched.addExtraJob("slice-sync-events", s))
      // hand off delta rows a rebalance stranded on this member: if the
      // pending delta holds any day this slice no longer extended-owns,
      // drain NOW (the Backfill rewrite lands the rows in the shared
      // archive, the marker flags the day, the new owner serves them) —
      // bounds the moved-row staleness window to one tick
      (localStore, topologyDir, sharedArchive) match {
        case (Some(_), Some(topo), Some(shared)) =>
          val slice = sys.env.getOrElse("SPARK_GRAFT_SLICE", "s0")
          sched.addExtraJob("slice-drain-moved-events", () => {
            graft.exec.SliceRebalance.read(topo).foreach { a =>
              val moved = server.pendingDays("events").filterNot(d =>
                graft.exec.SliceRebalance.extendedOwner(a, d).contains(slice))
              if (moved.nonEmpty) {
                println(s"[graft] delta holds moved day(s) ${moved.mkString(", ")} " +
                  "— draining to hand off to the new owner")
                server.drain("events", shared)
              }
            }
          })
        case _ => ()
      }
      server.jobScheduler = Some(sched)
      sched.start()
    }
    sys.env.get("SPARK_GRAFT_MEMBERS_DIR").filter(_.nonEmpty).foreach { dir =>
      val slice = sys.env.getOrElse("SPARK_GRAFT_SLICE", "s0")
      val url = sys.env.getOrElse("SPARK_GRAFT_ADVERTISE",
        s"http://localhost:${server.boundPort}")
      new graft.exec.BrokerTopology(dir).register(slice, url)
      println(s"[graft] registered $url as slice $slice in $dir")
    }
    println(s"[graft] serving on port ${server.boundPort}, tables from $sfDir")
    Thread.currentThread().join() // serve until killed
  }
}
