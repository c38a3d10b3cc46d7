package graft.api

import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

import com.sun.net.httpserver.HttpExchange
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.aql.{Catalog, TableDef}
import graft.exec.QueryService
import graft.ingest.Upsert

/** HTTP facade over the engine — the reference's API surface
  * (/root/reference/api/query_handler.go:67-68, data_handler.go:47-50,
  * schema_handler.go:47-60) on the JDK's built-in HTTP server:
  *
  *   - `POST /query/aql`  AQLRequest JSON → AQLResponse JSON;
  *     `Accept: application/hll` returns the binary HLL body for the
  *     first query
  *   - `POST /query/sql`  {"queries": ["SELECT ..."]} → AQLResponse JSON
  *   - `POST /data/{table}`  JSON array of row objects → PK upsert into
  *     the table's overlay; ingested rows are visible to queries
  *     immediately (the reference's live-batch freshness,
  *     memstore/ingestion.go:25-76)
  *   - `GET /schema/tables` and `GET /schema/tables/{t}` → table metadata
  *
  * The query endpoints are [[QueryFront]] answering each query with
  * [[graft.exec.QueryService]], the broker's front too; every route,
  * `GET /metrics` included, stands on the [[TierHttp]] plumbing the
  * broker shares.
  *
  * The overlay holds only the rows ingested since the table's last drain,
  * PK-deduped and checkpointed in memory — the reference's live batches.
  * Every query applies it, PK-overwrite, over the layer beneath: the
  * drained archive, else the catalog's loader (see [[layeredLoad]]). A
  * drain folds the overlay into day-partitioned parquet
  * ([[graft.ingest.Archiver]], [[graft.ingest.Backfill]]) and empties it.
  */
/** @param schemaSyncDir shared directory for cross-instance schema
  *   propagation (see [[SchemaSync]]): mutations publish the schema-store
  *   snapshot there, and a poller applies newer snapshots from peers
  * @param serverThreads bound on concurrent HTTP exchanges — the
  *   reference provisions explicit serving concurrency
  *   (/root/reference/integration/config/ares.yaml:17-22: 650
  *   connections, 300 query + 300 ingestion); here one bounded pool
  *   serves the whole facade, so a slow query can no longer serialize
  *   `/health`, concurrent ingests, or a broker's avg sum+count
  *   subqueries against this instance
  * @param queryTimeoutSec per-query deadline (0 = none): the query's
  *   Spark job group is cancelled at the deadline and the client gets a
  *   named `query deadline exceeded` error (ref ares.yaml:21-22
  *   read/write timeouts)
  * @param maxQueryConnections admission bound for the query endpoints
  *   (0 = no bound beyond the pool): the reference provisions query and
  *   ingestion concurrency SEPARATELY (ares.yaml's 300 + 300), so a
  *   query flood cannot starve ingestion of pool threads — excess
  *   requests fail fast with 503 rather than queueing unboundedly
  * @param maxIngestConnections admission bound for the data endpoints
  *   (0 = none)
  */
/** @param journalDir per-table upsert journal directory (None = no
  *   journal): every `/data/{table}` batch appends here BEFORE it is
  *   applied to the overlay and replays at construction, so
  *   HTTP-ingested rows survive a crash/restart exactly like the
  *   reference's redo log (redolog/file_redolog_manager.go,
  *   memstore/recovery.go); a successful drain truncates the table's
  *   journal (its rows are in the archive now)
  */
/** @param journalByteLimit size-triggered early-drain bound in bytes
  *   (0 = disabled): when a table's journal exceeds this after an ingest,
  *   the table drains INLINE — without waiting for a scheduler tick — so
  *   sustained ingest on a long drain interval cannot grow the journal
  *   unbounded (the reference rotates redo-log files at
  *   maxRedoLogFileSize, redolog/file_redolog_manager.go). Tables never
  *   drained before route to `<journalDir>/autodrain/<table>`.
  */
final class GraftServer(baseCatalog: Catalog, spark: SparkSession, port: Int = 0,
    strictCompat: Boolean = false, schemaSyncDir: Option[String] = None,
    schemaSyncPollMillis: Long = 2000, serverThreads: Int = 8,
    queryTimeoutSec: Long = 0, maxQueryConnections: Int = 0,
    maxIngestConnections: Int = 0,
    journalDir: Option[String] = None,
    journalByteLimit: Long = 0,
    redoLog: Option[graft.ingest.RedoLog] = None,
    archiveRoot: Option[String] = None,
    ingestRouter: Option[graft.exec.SliceRouter] = None)
  extends graft.ingest.SchedulableStore {
  require(serverThreads > 0, s"serverThreads $serverThreads must be positive")

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private val seqCounter = new AtomicLong(0)
  /** Tables whose overlay was drained to a day-partitioned archive:
    * queries read the archive directory beneath any newer overlay.
    */
  private val drained = TrieMap.empty[String, String]
  /** Metastore for tables created through the schema mutation API. */
  val schemaStore = new SchemaStore

  /** HTTP-ingest redo log: an injected backend (`redoLog` — e.g. a
    * [[graft.ingest.KafkaRedoLog]], whose WAL survives machine loss on
    * the brokers) wins over the file journal `journalDir` builds. A
    * Kafka-journal deployment may still pass `journalDir` for the
    * drained-state record below — only the per-batch WAL moves to the
    * topic.
    */
  private val journal: Option[graft.ingest.RedoLog] =
    redoLog.orElse(journalDir.map(new graft.ingest.UpsertJournal(_)))

  // durable drained-state record: the journal truncates on drain BECAUSE
  // the rows are in the archive — but the drained map itself lived only
  // in memory, so a restarted instance would forget where its archive is
  // and serve the base loader (losing the drained rows a second way).
  // With a journal configured, the map persists next to it and reloads
  // at construction (the reference records archiving state in its
  // metastore for exactly this reason).
  private def persistDrained(): Unit = journalDir.foreach { d =>
    val doc = JObject(drained.toSeq.sortBy(_._1)
      .map { case (t, dir) => t -> (JString(dir): JValue) }: _*)
    val tmp = java.nio.file.Paths.get(d, ".drained.json.tmp")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
    java.nio.file.Files.writeString(tmp, JsonMethods.compact(JsonMethods.render(doc)))
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(d, "_drained.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }
  journalDir.foreach { d =>
    val p = java.nio.file.Paths.get(d, "_drained.json")
    if (java.nio.file.Files.exists(p))
      JsonMethods.parse(java.nio.file.Files.readString(p)) match {
        case JObject(fields) => fields.foreach {
          case (t, JString(dir))
              if java.nio.file.Files.exists(java.nio.file.Paths.get(dir)) =>
            drained.put(t, dir)
          case _ => ()
        }
        case _ => ()
      }
  }

  /** Cross-instance schema propagation (the controller-tier analogue): a
    * fresh instance pulls the shared snapshot before serving; every local
    * schema mutation publishes.
    *
    * Without a sync dir, schemas still persist LOCALLY under
    * `<archiveRoot>/_schema` — the reference's disk metastore role
    * (metastore/disk_metastore.go: table schemas survive a datanode
    * restart unconditionally). Without this, an HTTP-created table dies
    * with the process and the journal replay for its batches silently
    * no-ops ("unknown table") — rows the ingest API acknowledged as
    * durable are lost. Caught by ClusterProcessSpec's kill -9 drill.
    * Co-hosted members must therefore use DISTINCT archive roots (the
    * same requirement the per-member journal already imposes).
    */
  private val schemaSync = schemaSyncDir
    .orElse(archiveRoot.map(_ + "/_schema")).map { d =>
      val s = new SchemaSync(schemaStore, d, schemaSyncPollMillis)
      s.pull()
      s
    }

  /** Tables served in SLICE mode (see [[sliceServe]]): the drained-dir
    * layer is SKIPPED for them — serving must stay on the base loader
    * (the assignment-aware local store), because the drain target is the
    * SHARED archive and reading it directly would serve every member's
    * days from every member (double counting behind a broker).
    */
  @volatile private var sliceServed: Set[String] = Set.empty
  private val postDrainHooks = TrieMap.empty[String, () => Unit]

  /** Wire `table` for slice-mode drains: scheduler drains land in the
    * SHARED day-partitioned archive (delta-promoted via Backfill once it
    * exists) instead of a member-local directory, serving keeps flowing
    * through the assignment-aware base load, and `onDrained` runs after
    * each successful drain — ServerMain passes a [[graft.exec.SliceSync]]
    * pull so the days this member serves refresh immediately; other
    * members pick the new day up on their own periodic sync. This is the
    * drain→serve loop the reference closes with ownership-routed
    * ingestion (subscriber/common/job/streaming_processor.go:48-71).
    */
  def sliceServe(table: String, sharedArchiveDir: String,
      onDrained: () => Unit = () => (),
      ownedDay: () => Option[String => Boolean] = () => None): Unit = {
    sliceServed += table
    postDrainHooks.put(table, onDrained)
    sliceOwnedDay.put(table, ownedDay)
    // pre-seed the drain target: dirFor routes scheduler drains to the
    // shared archive, and drain() takes the Backfill delta path (the
    // shared archive already holds the table's history)
    drained.put(table, sharedArchiveDir)
  }

  /** Per-query day-ownership predicate for a slice-served table's PENDING
    * DELTA (re-evaluated each query — it reads the published assignment).
    * A rebalance can move a day AWAY from this member while rows for it
    * still sit in the local delta (ingested back when this member owned
    * the day): the new owner serves the day's archived copy, so this
    * member serving its delta version too would answer the same PK twice
    * — the cross-member double-serve ClusterProcessSpec's watch-mode grow
    * caught over real processes. Delta rows for unowned days are
    * EXCLUDED from serving here and handed off through the next drain
    * (see [[pendingDays]] + ServerMain's moved-days drain job): the
    * Backfill rewrite lands them in the shared archive, the drain marker
    * flags the day, and the new owner serves the updated rows from
    * shared.
    *
    * Exclusion is PK-precise, not day-blanket: a moved-day delta row
    * whose PK is absent from the shared archive's copy of that day (a
    * stranded INSERT, or a whole overlay-only day) is the only copy in
    * the universe — no base scan at any member contains it — so it keeps
    * serving here until the handoff drain (excluding it would be a hard
    * undercount; ClusterSoakSpec seed 0x1111). Only rows whose PK the
    * shared copy ALREADY holds (stranded UPDATES) defer to the new
    * owner. Net guarantee across a rebalance: COUNTS are exact at every
    * instant; a PK update into an archived day that the same rebalance
    * moved away serves its pre-update value for ≤ one scheduler tick
    * (until the handoff drain lands it in shared), never twice and never
    * zero times.
    */
  private val sliceOwnedDay =
    TrieMap.empty[String, () => Option[String => Boolean]]

  /** Distinct days present in `table`'s pending delta (UTC, from the
    * table's time column) — O(distinct days) driver collect over the
    * small checkpointed delta frame; Nil when the overlay is empty.
    */
  def pendingDays(table: String): Seq[String] =
    pending.get(table).flatMap { delta =>
      catalog(table).timeColumn.map(distinctDays(delta, _))
    }.getOrElse(Nil)

  private def distinctDays(df: DataFrame, timeCol: String): Seq[String] =
    df.select(graft.ingest.Archiver.dayOf(df, timeCol).as("d")).distinct()
      .collect().map(_.getString(0)).toSeq

  /** Layered load: the pending overlay applied over the layer beneath it
    * — the drained archive, else the base loader. The archive read merges
    * per-file schemas — day partitions written before a column add lack
    * the new column, and the default single-footer schema inference would
    * silently null it out everywhere.
    *
    * A SLICE-SERVED table always layers over the base loader (see
    * [[sliceServed]]): the base re-reads the assignment on every query, so
    * a rebalance that moves days between members takes effect on the next
    * query — a view built at ingest time would keep double-serving the
    * moved days until the member's next ingest (the exactly-once violation
    * ClusterSoakSpec caught).
    *
    * The overlay is a small checkpointed frame whose PK anti-join against
    * the layer broadcasts. Where the layer carries the archive's `day`
    * column, overlay rows get it too, computed from the time column: the
    * load's schema never depends on whether rows are pending, so a query
    * compiled just before an ingest still resolves `day` after it, and
    * compiled time filters keep pruning day partitions (and filter the
    * overlay rows by the same day bounds).
    */
  private def layeredLoad(name: String, base: SparkSession => DataFrame)
      (s: SparkSession): DataFrame = {
    val under =
      if (sliceServed.contains(name)) base(s)
      else drained.get(name).fold(base(s))(dir =>
        graft.Tables.parquet(s, dir, mergeSchema = true))
    pending.get(name).fold(under)(overlay(name, under, _, s))
  }

  private def overlay(name: String, under: DataFrame, delta: DataFrame,
      s: SparkSession): DataFrame = {
    import graft.ingest.Archiver.DayCol
    val td = catalog(name)
    // schema drift null-fills whichever side lacks a column: one added
    // since the delta's ingest, or one the delta carries that older
    // archive files predate
    def fill(df: DataFrame, from: DataFrame): DataFrame =
      from.columns.filterNot(c => c == DayCol || df.columns.contains(c))
        .foldLeft(df) { (acc, c) =>
          acc.withColumn(c, lit(null).cast(from.schema(c).dataType))
        }
    val layer = fill(under, delta)
    val scoped = scopeToOwnedDays(name, fill(delta, under), s)
    val rows = td.timeColumn match {
      case Some(tc) if layer.columns.contains(DayCol) =>
        scoped.withColumn(DayCol, graft.ingest.Archiver.dayOf(scoped, tc))
      case _ => scoped
    }
    // ingest requires a primary key and keeps the delta one row per key,
    // so the upsert is one anti-join plus a union — no dedup shuffle. The
    // hint is needed: the delta's JSON-read lineage carries no size
    // estimate, and without it the anti-join would shuffle the archive
    val pk = td.primaryKey
    layer.join(broadcast(rows.select(pk.map(col): _*)), pk, "left_anti")
      .unionByName(rows.select(layer.columns.map(col): _*))
  }

  /** A slice-served table's delta, minus the rows for days a rebalance
    * moved AWAY from this member whose PK the shared archive already
    * holds; every other table's delta as is.
    *
    * The new owner serves a moved day's ARCHIVED copy, so serving a delta
    * row whose PK exists there would answer it twice — but a delta row
    * whose PK is ABSENT from the shared copy (a stranded INSERT, or a
    * whole overlay-only day no drain has landed yet) is the only copy in
    * the universe, and excluding it would be a hard undercount until the
    * handoff drain (ClusterSoakSpec seed 0x1111 caught exactly that). So
    * moved-day delta rows serve IFF their PK is absent from the shared
    * archive's copy of those days (one day-pruned anti-join, only in the
    * transient rebalance→handoff window; zero cost otherwise). Updates to
    * moved archived days defer to the new owner's copy: count exact at
    * every instant, the new VALUE lands at the handoff drain (≤ one
    * scheduler tick). Scoping happens BEFORE the upsert so an excluded
    * row also stops suppressing base rows.
    */
  private def scopeToOwnedDays(name: String, delta: DataFrame,
      s: SparkSession): DataFrame = {
    val td = catalog(name)
    val scoped = for {
      ownedPred <- sliceOwnedDay.get(name).flatMap(f => f())
      tc <- td.timeColumn
      sharedDir <- drained.get(name)
    } yield {
      val dayOf = graft.ingest.Archiver.dayOf(delta, tc)
      // O(distinct delta days) driver-side ownership check keeps the
      // filter a codegen'd isin instead of a UDF
      val days = distinctDays(delta, tc)
      val moved = days.filterNot(ownedPred)
      if (moved.isEmpty) delta
      else {
        // the deferral decision below reads the shared copy's PKs — note
        // the marker FIRST so a backfill committing around this read
        // surfaces as a torn archive epoch and the broker retries the
        // wave (the new owner's listing may sit on the other side of the
        // commit)
        graft.exec.ArchiveEpoch.note(name, graft.ingest.DrainMarker
          .read(sharedDir, s.sparkContext.hadoopConfiguration))
        val sharedKeys = graft.Tables.parquet(s, sharedDir, mergeSchema = true)
          .where(col(graft.ingest.Archiver.DayCol).isin(moved: _*))
          .select(td.primaryKey.map(col): _*)
        delta.where(dayOf.isin(days.filter(ownedPred): _*)).unionByName(
          delta.where(dayOf.isin(moved: _*))
            .join(sharedKeys, td.primaryKey, "left_anti"))
      }
    }
    scoped.getOrElse(delta)
  }

  /** TableDef for a runtime-created table: schema from the metastore, rows
    * from the overlay (empty before first ingestion). Fact tables
    * designate column 0 as the epoch time column (model.go:55-58).
    *
    * A drained fact table is flagged `dayPartitioned` and keeps the
    * archive's day column through its load, so compiled time filters
    * statically prune its day partitions — the archive scan path applies
    * to runtime-created tables too.
    */
  private def createdTableDef(ts: AqlTableSchema): TableDef = {
    def emptyDf(s: SparkSession): DataFrame =
      s.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        ts.sparkSchema)
    val dayPart = ts.isFactTable && drained.contains(ts.name)
    TableDef(ts.name, ts.isFactTable, ts.timeColumn,
      timestampColumns = Set.empty, primaryKey = ts.pkNames,
      dayPartitioned = dayPart,
      columnTypes = ts.activeColumns.map(c => c.name -> c.tpe).toMap,
      load = s => {
        // reconcile the overlay with the CURRENT schema: columns added
        // since ingestion surface as nulls, deleted columns drop out
        val df = layeredLoad(ts.name, emptyDf)(s)
        val latest = schemaStore.get(ts.name).getOrElse(ts)
        val present = df.columns.toSet
        val dayCol =
          if (dayPart && present.contains(graft.ingest.Archiver.DayCol))
            Seq(col(graft.ingest.Archiver.DayCol))
          else Nil
        latest.activeColumns.foldLeft(df) { (acc, c) =>
          if (present.contains(c.name)) acc
          else acc.withColumn(c.name, lit(null).cast(SchemaStore.sparkType(c.tpe)))
        }.select(latest.activeColumns.map(c => col(c.name)) ++ dayCol: _*)
      })
  }

  /** Catalog whose loaders read through the overlay ([[layeredLoad]]),
    * with runtime-created tables resolved dynamically from the schema
    * store.
    */
  private val catalog: Catalog = Catalog(
    baseCatalog.tables.map { case (name, td) =>
      name -> td.copy(load = layeredLoad(name, td.load))
    },
    baseCatalog.timezoneTable,
    dynamic = name => schemaStore.get(name).map(createdTableDef))

  // admission classes: the reference provisions query and ingestion
  // concurrency SEPARATELY (ares.yaml's 300 + 300), so a query flood
  // cannot starve ingestion. The isolation needs BOTH classes bounded:
  // with one bound set and the other 0, the unbounded class could occupy
  // every pool thread and the bounded class's requests would sit in the
  // executor's queue — never served, never 503'd. So a class left
  // unbounded BY CONFIG gets an implicit bound of `serverThreads`
  // whenever the other class is bounded. With neither bound set there
  // are no query or ingest semaphores at all.
  private val effQueryBound =
    if (maxQueryConnections > 0) maxQueryConnections
    else if (maxIngestConnections > 0) serverThreads else 0
  private val effIngestBound =
    if (maxIngestConnections > 0) maxIngestConnections
    else if (maxQueryConnections > 0) serverThreads else 0
  // peer-bootstrap file streams pin a pool thread for a whole (possibly
  // multi-hundred-MB) transfer — ALWAYS bounded, so a few bootstrapping
  // peers can never occupy every thread and starve health/query/ingest;
  // a 503'd peer backs off and retries (copySliceFromPeer's 503 loop)
  private val bootstrapCapacity = math.max(2, serverThreads / 4)
  private val http = new TierHttp(port, serverThreads,
    if (effQueryBound > 0 || effIngestBound > 0)
      effQueryBound + effIngestBound + bootstrapCapacity else 0,
    "server")
  private val querySlots = http.admission(effQueryBound)
  private val ingestSlots = http.admission(effIngestBound)
  private val bootstrapSlots = http.admission(bootstrapCapacity)

  private val service =
    new QueryService(catalog, spark, strictCompat, Some(http.metrics), queryTimeoutSec)

  /** Every mounted HTTP context path. */
  def routes: Seq[String] = http.routes

  /** Queries vs file swaps in the drained dirs they read. A query lists
    * a drained dir when it compiles and reads the listed files when it
    * runs; a drain that swaps files there in between fails the query (a
    * listed file is gone) or drops a day from it (listed mid-swap).
    * Queries hold the read side for their whole run, and [[drain]],
    * [[compact]] and [[purge]] hold the write side only while they swap
    * or delete files in a dir this server serves ([[swapping]]): a
    * slice-served table serves from its base loader, and the archive
    * epoch covers the shared archive its drains write.
    */
  private val archiveSwap = new java.util.concurrent.locks.ReentrantReadWriteLock
  private def holding[T](l: java.util.concurrent.locks.Lock)(f: => T): T = {
    l.lock()
    try f finally l.unlock()
  }
  private[api] def serving[T](f: => T): T = holding(archiveSwap.readLock)(f)

  /** Run a file swap in `dir` under the write side when queries on
    * `table` read that dir: a non-slice table serves from its drained dir.
    */
  private def swapping[T](table: String, dir: String)(f: => T): T =
    if (!sliceServed.contains(table) && drained.get(table).contains(dir))
      holding(archiveSwap.writeLock)(f)
    else f

  /** Run `f`, then stamp the assignment version(s) this query served
    * under onto the response as `X-Graft-Assignment-Version` — the
    * broker's fan-out consistency signal (see
    * [[graft.exec.SliceRebalance.beginVersionCapture]]): a scatter wave
    * whose slices report different versions straddled a rebalance publish
    * and is retried rather than merged.
    */
  private def withServingVersion[T](ex: HttpExchange)(f: => T): T = {
    graft.exec.SliceRebalance.beginVersionCapture()
    graft.exec.ArchiveEpoch.begin()
    try {
      val out = serving(f)
      val vs = graft.exec.SliceRebalance.capturedVersions()
      if (vs.nonEmpty)
        ex.getResponseHeaders.set("X-Graft-Assignment-Version",
          vs.toSeq.sorted.mkString(","))
      // seqlock read-side end: for each table whose shared archive the
      // query read, check its marker once more AFTER all its reads ran —
      // a backfill that began (or committed) since the pre-read makes the
      // epochs disagree, the token reports torn, and the broker retries
      // the wave instead of merging a listing that may straddle the swap
      graft.exec.ArchiveEpoch.tables().foreach { t =>
        drained.get(t).foreach(d => graft.exec.ArchiveEpoch.note(t,
          graft.ingest.DrainMarker.read(d, spark.sparkContext.hadoopConfiguration)))
      }
      graft.exec.ArchiveEpoch.collect().foreach(
        ex.getResponseHeaders.set("X-Graft-Archive-Epoch", _))
      out
    } finally {
      graft.exec.ArchiveEpoch.end()
      graft.exec.SliceRebalance.endVersionCapture()
    }
  }

  http.mount("/query/aql") { ex =>
    http.admitted(ex, querySlots) {
      http.reply(ex, withServingVersion(ex)(QueryFront.aql(ex, http.metrics)(
        service.answer(_, "aql"), service.aqlBinary)))
    }
  }

  http.mount("/query/sql") { ex =>
    http.admitted(ex, querySlots) {
      http.reply(ex, withServingVersion(ex)(QueryFront.sql(ex, http.metrics)(
        service.answer(_, "sql"))))
    }
  }

  // debug console — the reference ships a swagger + debug UI under
  // api/ui/; this is the equivalent single-page console over the data
  // endpoints that already exist: /metrics (live counters + recent query
  // table), /schema/tables (catalog browser), /dbg/plan (paste an AQL
  // document, read the formatted physical plan)
  http.mount("/ui") { ex =>
    http.respondBytes(ex, 200, "text/html; charset=utf-8",
      GraftServer.ConsoleHtml.getBytes(StandardCharsets.UTF_8))
  }

  // machine-readable API description (the swagger half of the reference's
  // api/ui tree; the console above is the human half)
  http.mount("/openapi.json") { ex =>
    http.respondBytes(ex, 200, "application/json",
      OpenApi.spec.getBytes(StandardCharsets.UTF_8))
  }

  // plan inspection: `GET /dbg/plan?query=<url-encoded AQL JSON>` or the
  // AQL JSON as a POST body → the formatted physical plan, unexecuted
  // (ref api/debug_handler.go:40+ exposes per-shard internals; the Spark
  // analogue of "what will this query do" is the Catalyst plan)
  http.mount("/dbg/plan") { ex =>
    val q =
      if (ex.getRequestMethod == "GET")
        Option(ex.getRequestURI.getRawQuery).getOrElse("")
          .split("&").collectFirst {
            case p if p.startsWith("query=") =>
              java.net.URLDecoder.decode(p.stripPrefix("query="), "UTF-8")
          }.getOrElse(throw new IllegalArgumentException("missing ?query="))
      else new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    http.respondBytes(ex, 200, "text/plain", service.plan(q).getBytes(StandardCharsets.UTF_8))
  }

  /** Attached periodic-job scheduler (ServerMain wires one up); its job
    * details serve at GET /dbg/jobs — the reference's GetJobDetails debug
    * surface (memstore/scheduler.go:124-130 via api/debug_handler.go).
    */
  @volatile var jobScheduler: Option[graft.ingest.JobScheduler] = None
  http.mount("/dbg/jobs") { ex =>
    http.respond(ex, 200, jobScheduler.map(_.detailsJson).getOrElse("{}"))
  }

  /** Manual job triggers — the reference's debug surface for kicking an
    * archive/backfill/snapshot/purge without waiting for the scheduler
    * (api/debug_handler.go:82-85, POST /{table}/{shard}/archive etc.).
    * Runs the job INLINE in the exchange: the response only returns once
    * the drain/purge committed (or 400s with its error), which is what an
    * operator kicking a job by hand wants, and what lets integration
    * tests drive drains deterministically.
    *
    *   POST /dbg/trigger/<table>/archive   drain overlay -> archive
    *   POST /dbg/trigger/<table>/backfill  same entry (drain() dispatches
    *                                       Archiver vs Backfill by state)
    *   POST /dbg/trigger/<table>/snapshot  same entry (dim tables take
    *                                       the Snapshot branch)
    *   POST /dbg/trigger/<table>/purge?retain_from=yyyy-MM-dd
    */
  http.mount("/dbg/trigger/") { ex =>
    if (ex.getRequestMethod != "POST")
      http.respond(ex, 405, """{"error":"POST only"}""")
    else ex.getRequestURI.getPath.stripPrefix("/dbg/trigger/")
      .split("/").toList.filter(_.nonEmpty) match {
      case table :: job :: Nil =>
        catalog(table) // 400s on unknown table
        job match {
          case "archive" | "backfill" | "snapshot" =>
            val dir = drained.get(table)
              .orElse(archiveRoot.map(r => s"$r/$table"))
              .getOrElse(throw new IllegalArgumentException(
                s"no drain target for $table: not drained before and no archiveRoot"))
            drain(table, dir)
            http.respond(ex, 200, JsonMethods.compact(JsonMethods.render(JObject(
              "triggered" -> JString(job), "table" -> JString(table),
              "dir" -> JString(dir)))))
          case "purge" =>
            val retain = Option(ex.getRequestURI.getQuery).toSeq
              .flatMap(_.split("&")).collectFirst {
                case kv if kv.startsWith("retain_from=") =>
                  kv.stripPrefix("retain_from=")
              }.getOrElse(throw new IllegalArgumentException(
                "purge requires ?retain_from=yyyy-MM-dd"))
            val deleted = purge(table, retain)
            http.respond(ex, 200, JsonMethods.compact(JsonMethods.render(JObject(
              "triggered" -> JString("purge"), "table" -> JString(table),
              "deleted" -> JArray(deleted.map(JString(_)).toList)))))
          case other => throw new IllegalArgumentException(
            s"unknown job '$other' (archive|backfill|snapshot|purge)")
        }
      case _ => throw new IllegalArgumentException(
        "expected /dbg/trigger/<table>/<job>")
    }
  }

  /** Archive roots served to bootstrapping peers (table → local archive
    * dir) — set by the deployment (ServerMain wires the scheduler's
    * archive root); tables drained at runtime serve from [[drained]]
    * automatically. The reference's peer bootstrap source
    * (/root/reference/datanode/bootstrap/peer_source.go) streams a
    * shard's batches to a replacement node when shared storage is
    * absent; here the unit of transfer is the day partition's parquet
    * files:
    *
    *   GET /bootstrap/{table}/days            → JSON day list
    *   GET /bootstrap/{table}/{day}/files     → JSON file-name list
    *   GET /bootstrap/{table}/{day}/{file}    → raw parquet bytes
    */
  @volatile var bootstrapRoots: Map[String, String] = Map.empty
  private def bootstrapRoot(table: String): String =
    bootstrapRoots.get(table).orElse(drained.get(table)).getOrElse(
      throw new IllegalArgumentException(
        s"table $table has no served archive on this instance"))

  /** Path-segment guard: day and file names come off the wire and index
    * into the local filesystem — reject separators and dot-segments so
    * the endpoint cannot read outside the archive root.
    */
  private def safeSegment(s: String): String = {
    require(s.nonEmpty && !s.contains('/') && !s.contains('\\') &&
      s != "." && s != "..", s"illegal path segment '$s'")
    s
  }

  http.mount("/bootstrap/") { ex =>
    val segs = ex.getRequestURI.getPath.stripPrefix("/bootstrap/")
      .split("/").toList.filter(_.nonEmpty)
    val conf = spark.sparkContext.hadoopConfiguration
    segs match {
      case table :: "days" :: Nil =>
        val days = graft.exec.SliceBootstrap.localDays(spark, bootstrapRoot(table))
        http.respond(ex, 200, JsonMethods.compact(JsonMethods.render(
          JArray(days.map(JString(_)).toList))))
      case table :: day :: "files" :: Nil =>
        val part = new org.apache.hadoop.fs.Path(bootstrapRoot(table),
          s"${graft.ingest.Archiver.DayCol}=${safeSegment(day)}")
        val fs = part.getFileSystem(conf)
        require(fs.exists(part), s"day $day not present")
        val files = fs.listStatus(part)
          .filter(s => s.isFile && !s.getPath.getName.startsWith(".") &&
            !s.getPath.getName.startsWith("_"))
          .map(_.getPath.getName).sorted
        http.respond(ex, 200, JsonMethods.compact(JsonMethods.render(
          JArray(files.map(JString(_)).toList))))
      case table :: day :: file :: Nil => http.admitted(ex, bootstrapSlots) {
        val p = new org.apache.hadoop.fs.Path(bootstrapRoot(table),
          s"${graft.ingest.Archiver.DayCol}=${safeSegment(day)}/${safeSegment(file)}")
        val fs = p.getFileSystem(conf)
        require(fs.exists(p), s"no such file $day/$file")
        // STREAMED, not buffered: archive parquet files are written at
        // row-group scale and can be hundreds of MB — a whole-file byte[]
        // per transfer would let one bootstrapping peer OOM the server
        val len = fs.getFileStatus(p).getLen
        ex.getResponseHeaders.set("Content-Type", "application/octet-stream")
        ex.sendResponseHeaders(200, len)
        val in = fs.open(p)
        // a transfer that dies MID-STREAM cannot be answered again (the
        // headers are gone) — the mount's 400 catch would respond a second
        // time, throw IllegalStateException, and mask the real I/O error.
        // Log the original failure here instead; the client sees a body
        // shorter than the declared Content-Length and retries the file.
        try in.transferTo(ex.getResponseBody)
        catch {
          case NonFatal(e) =>
            log.warn(s"bootstrap file transfer for $table/$day/$file failed mid-stream", e)
        } finally in.close()
      }
      case other =>
        throw new IllegalArgumentException(s"unsupported bootstrap route: $other")
    }
  }

  // liveness + version probes (ref api/health_check_handler.go:39-53)
  /** LB-drain switch (ref api/health_check_handler.go:29-45 +
    * debug_handler.go HealthSwitch): `POST /health/off` makes the
    * health probe answer 503 so the load balancer drains this member
    * WITHOUT killing in-flight work; `POST /health/on` restores it.
    * Serving itself is unaffected — only the probe lies down.
    */
  @volatile private var healthDisabled = false
  http.mount("/health") { ex =>
    val sub = ex.getRequestURI.getPath.stripPrefix("/health").stripPrefix("/")
    (ex.getRequestMethod, sub) match {
      case ("POST", "on") | ("POST", "off") =>
        healthDisabled = sub == "off"
        http.respondBytes(ex, 200, "text/plain", "OK".getBytes(StandardCharsets.UTF_8))
      case ("POST", other) =>
        throw new IllegalArgumentException(
          s"must specify on or off in the url, got '$other'")
      case _ =>
        if (healthDisabled)
          http.respondBytes(ex, 503, "text/plain",
            "Health check disabled".getBytes(StandardCharsets.UTF_8))
        else
          http.respondBytes(ex, 200, "text/plain", "OK".getBytes(StandardCharsets.UTF_8))
    }
  }
  http.mount("/version") { ex =>
    http.respondBytes(ex, 200, "text/plain", "graft-0.3".getBytes(StandardCharsets.UTF_8))
  }

  // `/data/{table}` and the reference's `/data/{table}/{shard}` — the shard
  // segment is accepted and ignored (Spark partitioning replaces shards).
  // Accepts EITHER a JSON row array or the reference's serialized binary
  // upsert batch (`Content-Type: application/upsert-data`, or sniffed by
  // its version word) — a client built against the reference's wire format
  // can POST here unmodified (ref api/data_handler.go:50-67).
  http.mount("/data/") { ex =>
    http.admitted(ex, ingestSlots) {
      val table = ex.getRequestURI.getPath.stripPrefix("/data/").takeWhile(_ != '/')
      // resolve the table (existence + PK) BEFORE journaling, so a typo'd
      // table name 400s without leaving a poison record behind
      val td = catalog(table)
      if (td.primaryKey.isEmpty)
        throw new IllegalArgumentException(s"table $table has no primary key")
      val raw0 = ex.getRequestBody.readAllBytes()
      val contentType = Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
      val binary =
        contentType == "application/upsert-data" || UpsertBatchWire.looksLikeBatch(raw0)
      // ownership-routed ingestion (slice mode, JSON batches): rows whose
      // day another slice serves forward to that slice's live member —
      // a PK UPDATE applied at a non-owner would otherwise split the row
      // (the non-owner serves the new version from its delta, the owner
      // keeps serving the archived one: the same id answered twice). A
      // batch arriving with the forwarded header applies LOCALLY without
      // re-routing — one hop only, so two members transiently reading
      // different assignment versions can never forward in a loop.
      // Binary-wire batches are NOT routed (decode/re-encode is not worth
      // the hop; deploy binary producers owner-routed).
      val forwardedIn =
        Option(ex.getRequestHeaders.getFirst("X-Graft-Forwarded")).nonEmpty
      val (raw, forwardedCount) =
        if (binary || forwardedIn || ingestRouter.isEmpty ||
            !sliceServed.contains(table)) (raw0, 0L)
        else routeBatch(td, raw0)
      // durability FIRST (ref redolog append-then-apply,
      // file_redolog_manager.go): the batch is on disk before the overlay
      // sees it, so a crash between here and the drain loses nothing.
      // Append and apply share ONE table-lock critical section (reentrant
      // with ingest's own): a drain interleaving between them would
      // persist an overlay WITHOUT this batch yet truncate its journal
      // record — the batch would be durable nowhere until the next drain.
      val localEmpty = !binary && forwardedCount > 0 &&
        new String(raw, StandardCharsets.UTF_8).trim == "[]"
      val n = if (localEmpty) 0L
      else tableLocks.getOrElseUpdate(table, new Object).synchronized {
        journal.foreach(_.append(table,
          if (binary) graft.ingest.UpsertJournal.KindBinary
          else graft.ingest.UpsertJournal.KindJson, raw))
        val applied = applyIngest(table, raw, binary)
        // size-triggered early drain (inside the same reentrant table
        // lock): the journal must not outgrow its bound between
        // scheduler ticks under sustained ingest
        maybeRotateJournal(table)
        applied
      }
      http.respond(ex, 200, s"""{"rowsInserted":${n + forwardedCount}}""")
    }
  }

  /** Split a JSON ingest batch by day ownership: self-owned rows return
    * (re-serialized) for the local journal+apply path; foreign rows POST
    * to their owning slice's live member. Returns (localBytes,
    * forwardedRowCount). A foreign slice with no live member fails the
    * batch loudly — applying rows this member doesn't own is the silent
    * split-row hazard routing exists to prevent.
    */
  private def routeBatch(td: TableDef, raw: Array[Byte]): (Array[Byte], Long) = {
    val router = ingestRouter.get
    val tc = td.timeColumn.getOrElse(return (raw, 0L)) // dims don't route
    val rows = JsonMethods.parse(new String(raw, StandardCharsets.UTF_8)) match {
      case JArray(objs) => objs
      case _ => throw new IllegalArgumentException("expected a JSON array of rows")
    }
    // the day the overlay files the row under (Archiver.dayOf): Spark's
    // JSON read honours an ISO string's offset, and a bare one reads in
    // the session time zone, so the prefix of the text is not the day
    val zone = java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))
    def day(epochMicros: Long): String = java.time.Instant.EPOCH
      .plus(epochMicros, java.time.temporal.ChronoUnit.MICROS).atZone(zone).toLocalDate.toString
    def dayOf(row: JValue): String = row \ tc match {
      case JInt(e) => day(e.toLong * 1000000L)
      case JLong(e) => day(e * 1000000L)
      case JDouble(e) => day(e.toLong * 1000000L)
      case JString(s) if s.forall(_.isDigit) && s.nonEmpty => day(s.toLong * 1000000L)
      case JString(s) => org.apache.spark.sql.catalyst.util.DateTimeUtils.stringToTimestamp(
          org.apache.spark.unsafe.types.UTF8String.fromString(s), zone).map(day)
        .getOrElse(throw new IllegalArgumentException(
          s"cannot route row: time column '$tc' value '$s' is not a timestamp"))
      case other => throw new IllegalArgumentException(
        s"cannot route row: time column '$tc' missing or unparseable ($other)")
    }
    val byOwner = rows.groupBy(r => router.ownerOf(dayOf(r)).getOrElse(router.selfSlice))
    val mine = byOwner.getOrElse(router.selfSlice, Nil)
    var forwarded = 0L
    byOwner.foreach { case (slice, foreign) =>
      if (slice != router.selfSlice) {
        val url = router.urlOf(slice).getOrElse(throw new IllegalStateException(
          s"cannot route ${foreign.length} row(s) to slice '$slice': no live member " +
            "— refusing to apply rows this member does not own"))
        val body = JsonMethods.compact(JsonMethods.render(JArray(foreign)))
        val resp = forwardClient.send(
          java.net.http.HttpRequest.newBuilder(java.net.URI.create(
            s"$url/data/${td.name}"))
            .timeout(java.time.Duration.ofSeconds(60))
            .header("Content-Type", "application/json")
            .header("X-Graft-Forwarded", "1")
            .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body,
              StandardCharsets.UTF_8)).build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        if (resp.statusCode() != 200)
          throw new IllegalStateException(
            s"forward of ${foreign.length} row(s) to slice '$slice' ($url) " +
              s"failed: ${resp.statusCode()} ${resp.body().take(200)}")
        forwarded += foreign.length
      }
    }
    val localBytes = JsonMethods.compact(JsonMethods.render(JArray(mine.toList)))
      .getBytes(StandardCharsets.UTF_8)
    (localBytes, forwarded)
  }

  private lazy val forwardClient = java.net.http.HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(10)).build()

  /** Size-triggered journal rotation: when `table`'s journal exceeds
    * [[journalByteLimit]], drain it NOW — the drain persists the overlay
    * to the table's archive (its established drain target; on a FIRST
    * rotation `<archiveRoot>/<table>`, falling back to an autodrain
    * directory under the journal root when no archive root is
    * configured) and truncates the journal, so the bound holds without
    * a scheduler tick and nothing is lost to replay (the rows are
    * durably archived). Caller holds the table lock (drain re-enters
    * it).
    *
    * Latency trade (documented, deliberate): the drain is a synchronous
    * Spark archive job inside the ingest request that crossed the bound,
    * holding the table lock — that one request can take seconds and
    * head-of-line-block the table, unlike the reference's cheap log-file
    * rotation. The bound is a BACKSTOP against unbounded growth on a
    * mis-sized drain interval, not a steady-state path: size the
    * scheduler's drain interval so rotations never fire, and treat a
    * rotation in the logs as a sizing alarm (see DEPLOYMENT.md).
    */
  private def maybeRotateJournal(table: String): Unit =
    for (j <- journal if journalByteLimit > 0 && j.size(table) > journalByteLimit) {
      val target = drained.get(table)
        .orElse(archiveRoot.map { root =>
          val d = java.nio.file.Paths.get(root, table)
          java.nio.file.Files.createDirectories(d)
          d.toString
        })
        .orElse(journalDir.map { jd =>
          // last resort — sole-copy archive data lands under the redo-log
          // root; an operator treating that dir as wipeable transient
          // state would destroy it (configure archiveRoot instead)
          log.warn(s"first autodrain of table $table targets the journal " +
            "root (no archiveRoot configured) — the journal dir now holds " +
            "sole-copy archived data")
          val d = java.nio.file.Paths.get(jd, "autodrain", table)
          java.nio.file.Files.createDirectories(d)
          d.toString
        })
        .getOrElse {
          log.error(s"journal for table $table exceeds $journalByteLimit " +
            "bytes but no drain target exists (injected redo log, no " +
            "archiveRoot/journalDir) — rotation skipped, the bound is NOT " +
            "enforced; configure archiveRoot")
          return
        }
      log.info(s"journal for table $table exceeds $journalByteLimit bytes — " +
        s"early drain to $target")
      drain(table, target)
    }

  /** Shared apply path for live HTTP batches and journal replay. */
  private def applyIngest(table: String, raw: Array[Byte], binary: Boolean): Long = {
    val td = catalog(table)
    if (td.primaryKey.isEmpty)
      throw new IllegalArgumentException(s"table $table has no primary key")
    if (binary)
      // enum-dictionary resolution and the ingest run under ONE table
      // lock (reentrant with ingest's own): a concurrent enum-case
      // extension can no longer slip between dictionary read and row
      // decode and null out fresh cases mid-batch
      tableLocks.getOrElseUpdate(table, new Object).synchronized {
        ingest(td, binaryBatchToJson(table, UpsertBatchWire.decode(raw)))
      }
    else ingest(td, new String(raw, StandardCharsets.UTF_8))
  }

  /** Decoded binary upsert batch → the JSON row array the overlay ingest
    * consumes. Logical column ids index the table's column list (the
    * reference's schema contract, memstore/common/upsert_batch.go:223-230);
    * enum indexes resolve through the column's dictionary, GeoPoints arrive
    * as (lat, lng) structs.
    */
  private def binaryBatchToJson(table: String,
      batch: UpsertBatchWire.Batch): String = {
    val ts = schemaStore.get(table)
    // resolve names and enum dictionaries ONCE per column — a 65k-row
    // batch must not re-list enum cases (or re-load the catalog schema)
    // inside the row loop
    lazy val baseSchema = catalog(table).load(spark)
      .drop(graft.ingest.Archiver.DayCol).schema
    def colName(id: Int): String = ts match {
      case Some(t) =>
        require(id >= 0 && id < t.columns.length, s"column id $id out of range")
        val c = t.columns(id)
        require(!c.deleted, s"column id $id (${c.name}) is deleted")
        c.name
      case None =>
        require(id >= 0 && id < baseSchema.length, s"column id $id out of range")
        baseSchema(id).name
    }
    val names = batch.columns.map(c => colName(c.columnId))
    val dicts: Seq[IndexedSeq[String]] = batch.columns.zip(names).map {
      case (c, name)
          if UpsertBatchWire.elementType(c.dataType) == UpsertBatchWire.SmallEnum ||
            UpsertBatchWire.elementType(c.dataType) == UpsertBatchWire.BigEnum =>
        // a wire enum column needs a dictionary to mean anything; a table
        // outside the schema store has none, and silently decoding every
        // value to null would corrupt the batch — fail the request instead
        if (ts.isEmpty) throw new IllegalArgumentException(
          s"binary enum column $name: table $table has no enum dictionary " +
            "(enum wire columns require a schema-store table)")
        schemaStore.listEnumCases(table, name).toIndexedSeq
      case _ => IndexedSeq.empty
    }
    val rows = (0 until batch.numRows).map { r =>
      JObject(batch.columns.indices.flatMap { i =>
        val c = batch.columns(i)
        c.values(r).map { v =>
          def scalarJv(tpe: Int, x: Any): JValue = (tpe, x) match {
            case (UpsertBatchWire.SmallEnum | UpsertBatchWire.BigEnum, idx: Long) =>
              // dictionary index → case string (unknown index → null, the
              // reference's unknown-enum semantics)
              val cases = dicts(i)
              if (idx >= 0 && idx < cases.length) JString(cases(idx.toInt)) else JNull
            case (UpsertBatchWire.GeoPoint, (lat: Float, lng: Float)) =>
              JObject("lat" -> JDouble(lat), "lng" -> JDouble(lng))
            case (_, b: Boolean) => JBool(b)
            case (_, l: Long) => JInt(l)
            case (_, f: Float) => JDouble(f)
            case (_, s: String) => JString(s)
            case (_, other) => JString(other.toString)
          }
          val jv: JValue =
            if (UpsertBatchWire.isArrayType(c.dataType)) v match {
              case elems: IndexedSeq[_] =>
                val elem = UpsertBatchWire.elementType(c.dataType)
                JArray(elems.toList.map {
                  case Some(x) => scalarJv(elem, x)
                  case _ => JNull
                })
              case other => throw new IllegalArgumentException(
                s"array column ${names(i)}: unexpected decoded value $other")
            }
            else scalarJv(c.dataType, v)
          names(i) -> jv
        }
      }.toList)
    }
    JsonMethods.compact(JsonMethods.render(JArray(rows.toList)))
  }

  // schema read + mutation surface (ref api/schema_handler.go:47-254,
  // api/enum_handler.go:47-110):
  //   GET    /schema/tables                       → table name list
  //   POST   /schema/tables                       → create table
  //   GET    /schema/tables/{t}                   → table schema
  //   PUT    /schema/tables/{t}                   → update table config
  //   DELETE /schema/tables/{t}                   → delete table
  //   POST   /schema/tables/{t}/columns           → add column
  //   PUT    /schema/tables/{t}/columns/{c}       → update column config
  //   DELETE /schema/tables/{t}/columns/{c}       → delete column
  //   GET    /schema/tables/{t}/columns/{c}/enum-cases  → list enum cases
  //   POST   /schema/tables/{t}/columns/{c}/enum-cases  → extend enum dict
  http.mount("/schema/tables") { ex =>
    val segs = ex.getRequestURI.getPath.stripPrefix("/schema/tables")
      .stripPrefix("/").split("/").toList.filter(_.nonEmpty)
    val method = ex.getRequestMethod
    def body() = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    // every successful schema MUTATION publishes the snapshot to the
    // shared sync directory before the response goes out
    def ok(j: JValue): Unit = {
      if (method != "GET") schemaSync.foreach(_.publish())
      http.respond(ex, 200, JsonMethods.compact(JsonMethods.render(j)))
    }

    (method, segs) match {
      case ("GET", Nil) =>
        ok(JArray((baseCatalog.tables.keys ++ schemaStore.names).toList.sorted
          .map(JString(_))))
      case ("POST", Nil) =>
        val ts = SchemaStore.parseTable(body())
        if (baseCatalog.tables.contains(ts.name))
          throw new IllegalArgumentException(s"table ${ts.name} already exists")
        schemaStore.create(ts)
        ok(JNull)
      case ("GET", t :: Nil) =>
        schemaStore.get(t) match {
          case Some(ts) => ok(SchemaStore.renderTable(ts))
          case None =>
            val td = catalog(t)
            // the synthetic archive partition day column is storage layout,
            // not table schema
            val schema = td.load(spark).drop(graft.ingest.Archiver.DayCol).schema
            ok(JObject(
              "name" -> JString(td.name),
              "isFactTable" -> JBool(td.isFact),
              "timeColumn" -> td.timeColumn.map(JString(_)).getOrElse(JNull),
              "primaryKeyColumns" -> JArray(td.primaryKey.map(JString(_)).toList),
              "columns" -> JArray(schema.fields.map(f => JObject(
                "name" -> JString(f.name),
                "type" -> JString(f.dataType.simpleString))).toList)))
        }
      case ("PUT", t :: Nil) => ok(SchemaStore.renderTable(schemaStore.updateConfig(t, body())))
      case ("DELETE", t :: Nil) =>
        // under the table lock: a concurrent ingest/drain must not write
        // the deleted table's overlay or delta back after the clear —
        // drop ALL layered state so a recreated same-name table starts
        // empty
        tableLocks.getOrElseUpdate(t, new Object).synchronized {
          schemaStore.delete(t)
          drained.remove(t)
          pending.remove(t)
          mutationCounts.remove(t)
          pendingByteCounts.remove(t)
          // a journal left behind would resurrect the deleted table's
          // rows into a recreated same-name table on the next restart
          journal.foreach(_.truncate(t))
          persistDrained()
        }
        ok(JNull)
      case ("POST", t :: "columns" :: Nil) =>
        val j = JsonMethods.parse(body())
        val addToSort = j \ "addToArchivingSortOrder" match {
          case JBool(b) => b
          case _ => false
        }
        ok(SchemaStore.renderTable(
          schemaStore.addColumn(t, SchemaStore.parseColumn(j), addToSort)))
      case ("PUT", t :: "columns" :: c :: Nil) =>
        ok(SchemaStore.renderTable(schemaStore.updateColumn(t, c, body())))
      case ("DELETE", t :: "columns" :: c :: Nil) =>
        ok(SchemaStore.renderTable(schemaStore.deleteColumn(t, c)))
      case ("GET", t :: "columns" :: c :: "enum-cases" :: Nil) =>
        ok(JArray(schemaStore.listEnumCases(t, c).map(JString(_)).toList))
      case ("POST", t :: "columns" :: c :: "enum-cases" :: Nil) =>
        val cases = JsonMethods.parse(body()) \ "enumCases" match {
          case JArray(vs) => vs.collect { case JString(s) => s }
          case _ => throw new IllegalArgumentException("expected {\"enumCases\": [...]}")
        }
        ok(JArray(schemaStore.extendEnumDict(t, c, cases).map(i => JInt(i): JValue).toList))
      case other =>
        throw new IllegalArgumentException(s"unsupported schema route: $other")
    }
  }

  /** Per-table ingest locks: the read-modify-write on the overlay
    * (and the enum auto-expansion) must be atomic per table — handlers
    * run CONCURRENTLY on the bounded request pool, so these locks are
    * load-bearing, not defensive.
    */
  private val tableLocks = TrieMap.empty[String, Object]

  /** JSON array of row objects → PK upsert into the overlay. */
  private def ingest(td: TableDef, jsonBody: String): Long = {
    import spark.implicits._
    val parsed0 = JsonMethods.parse(jsonBody) match {
      case JArray(objs) => objs
      case other => throw new IllegalArgumentException("expected a JSON array of rows")
    }
    tableLocks.getOrElseUpdate(td.name, new Object).synchronized {
      // storage-semantics transform per declared column types (one parse,
      // reused for the dictionary sweep and the batch):
      //  - GeoPoint: 'Point(lng,lat)' WKT text → {lat, lng} struct values
      //    (the reference ingests WKT and stores [2]float32)
      //  - enums: caseInsensitive lowercases; with auto-expansion DISABLED,
      //    an unseen case stores NULL (the reference converts unknown cases
      //    to NULL, so filters on them match nothing)
      val parsed = schemaStore.get(td.name).fold(parsed0) { ts =>
        val geoCols = ts.activeColumns.filter(_.tpe == "GeoPoint").map(_.name).toSet
        val enumCols = ts.activeColumns.filter(_.isEnum).map(c => c.name -> c).toMap
        // dictionaries hoisted per batch (stable under the table lock) and
        // case-folded for caseInsensitive columns — pre-registered
        // mixed-case entries must match lowercased ingest values
        val dicts: Map[String, Set[String]] = enumCols.collect {
          case (name, c) if c.disableAutoExpand =>
            val cases = schemaStore.listEnumCases(td.name, name)
            name -> (if (c.caseInsensitive) cases.map(_.toLowerCase).toSet
                     else cases.toSet)
        }
        parsed0.map {
          case JObject(fields) => JObject(fields.map {
            case (k, JString(v)) if geoCols.contains(k) =>
              val (lat, lng) = graft.aql.ExprCompiler.parseGeoPoint(v)
              k -> (JObject("lat" -> JDouble(lat), "lng" -> JDouble(lng)): JValue)
            case (k, JString(v)) if enumCols.contains(k) =>
              val c = enumCols(k)
              val vv = if (c.caseInsensitive) v.toLowerCase else v
              if (c.disableAutoExpand && !dicts(k).contains(vv))
                k -> (JNull: JValue)
              else k -> (JString(vv): JValue)
            // enum-ARRAY columns apply the same per-element semantics
            case (k, JArray(vs)) if enumCols.contains(k) =>
              val c = enumCols(k)
              k -> (JArray(vs.map {
                case JString(v) =>
                  val vv = if (c.caseInsensitive) v.toLowerCase else v
                  if (c.disableAutoExpand && !dicts(k).contains(vv)) JNull
                  else JString(vv)
                case other => other
              }): JValue)
            case other => other
          })
          case other => other
        }
      }
      // enum auto-expansion (ref api/enum_handler.go semantics). If the
      // dictionary grew, PUBLISH to the schema-sync directory — dictionary
      // ids are part of the cross-instance wire contract, and a peer's
      // later publish would otherwise wipe the locally added cases
      schemaStore.get(td.name).foreach { ts =>
        var dictsGrew = false
        ts.activeColumns.filter(c => c.isEnum && !c.disableAutoExpand).foreach { c =>
          val cases = parsed.flatMap(r => r \ c.name match {
            case JString(s) => Seq(s)
            case JArray(vs) => vs.collect { case JString(s) => s }
            case _ => Nil
          }).distinct
          if (cases.nonEmpty) {
            val before = schemaStore.listEnumCases(ts.name, c.name).size
            schemaStore.extendEnumDict(ts.name, c.name, cases)
            if (schemaStore.listEnumCases(ts.name, c.name).size > before)
              dictsGrew = true
          }
        }
        if (dictsGrew) schemaSync.foreach(_.publish())
      }
      val rows = parsed.map(o => JsonMethods.compact(JsonMethods.render(o)))
      // the batch read schema comes from the TableDef's load: it
      // reconciles to the CURRENT schema, so a column added since the last
      // ingest keeps its values; the delta never carries the archive's
      // synthetic day column
      val current = td.load(spark).drop(graft.ingest.Archiver.DayCol)
      // arrival order within the batch: later record wins (ingestion.go:172+);
      // single-partition read makes monotonically_increasing_id the row order
      val seq0 = seqCounter.getAndAdd(rows.length)
      val withSeq = spark.read.schema(current.schema)
        .json(rows.toDS().coalesce(1))
        .withColumn("__seq", monotonically_increasing_id() + seq0)
      // the DELTA since the last drain (upsert batches folded among
      // themselves) — what queries layer over the archive and a drain
      // promotes. The stored delta reconciles to the CURRENT schema
      // first: Upsert keeps the existing side's columns, so a delta built
      // before a column add would silently drop the new column's values
      val delta = pending.get(td.name) match {
        case Some(p) =>
          val present = p.columns.toSet
          val reconciled = current.columns.filterNot(present.contains)
            .foldLeft(p) { (acc, c) =>
              acc.withColumn(c, lit(null).cast(current.schema(c).dataType))
            }
            .select(current.columns.map(col): _*)
          Upsert(reconciled, withSeq, td.primaryKey, "__seq")
        case None => Upsert.dedupBatch(withSeq, td.primaryKey, "__seq")
          .select(current.columns.map(col): _*)
      }
      pending.put(td.name, delta.localCheckpoint(true)) // breaks lineage growth
      mutationCounts.updateWith(td.name)(c => Some(c.getOrElse(0L) + parsed0.length))
      // accumulate the batch's serialized size — the backfill buffer size
      // the scheduler's size trigger compares against the threshold (ref
      // backfill_manager.go CurrentBufferSize grows per appended batch)
      val batchBytes = rows.iterator.map(_.length.toLong).sum
      pendingByteCounts.updateWith(td.name)(c => Some(c.getOrElse(0L) + batchBytes))
    }
    parsed0.length
  }

  /** Rows ingested since the last drain, PK-deduped among themselves. */
  private val pending = TrieMap.empty[String, DataFrame]

  /** Mutations since the last drain per table (the snapshot-eligibility
    * marker, ref snapshot_manager.go NumMutations — reset when a drain
    * persists them).
    */
  private val mutationCounts = TrieMap.empty[String, Long]

  /** Serialized bytes ingested since the last drain per table (the
    * backfill buffer size, ref backfill_manager.go CurrentBufferSize).
    * Tracked at ingest time: a localCheckpoint'd delta frame has no
    * reliable optimizer size estimate (LogicalRDD stats fall back to
    * defaultSizeInBytes = Long.MaxValue, which would make EVERY delta
    * cross EVERY threshold).
    */
  private val pendingByteCounts = TrieMap.empty[String, Long]

  /** Archive sort columns: the schema's declared archivingSortColumns
    * when present (the reference sorts archive batches by them so
    * equality prefilters get zone-map skips), else the non-time primary
    * key columns.
    */
  private def archiveSortCols(table: String, td: TableDef): Seq[String] =
    schemaStore.get(table).map { ts =>
      ts.archivingSortColumns.collect {
        case i if i >= 0 && i < ts.columns.length && !ts.columns(i).deleted =>
          ts.columns(i).name
      }
    }.filter(_.nonEmpty)
      .getOrElse(td.primaryKey.filterNot(td.timeColumn.contains))

  /** Drain the table's overlay into a day-partitioned archive at `dir`
    * and release it — the reference's live→archive promotion
    * (memstore/archiving.go:59-141): after the drain,
    * queries answer from the archive scan path (partition-pruned parquet)
    * alone.
    *
    * The FIRST drain of a fact table writes the full day-partitioned
    * archive; subsequent drains to the same directory promote only the
    * DELTA through [[graft.ingest.Backfill]], rewriting just the affected
    * day partitions — at scale that is the difference between a daily
    * full rewrite and touching 1/retention of the data. Dimension tables
    * (no time column) snapshot wholesale (memstore/snapshot.go:25-87).
    */
  def drain(table: String, dir: String): Unit = {
    val td = catalog(table)
    tableLocks.getOrElseUpdate(table, new Object).synchronized {
      pending.get(table).foreach { delta =>
        val sortCols = archiveSortCols(table, td)
        // the whole-table view a first drain or a snapshot writes, pinned
        // BEFORE the write: a snapshot re-drain overwrites the very files
        // the layered load reads
        def view = td.load(spark).drop(graft.ingest.Archiver.DayCol)
          .localCheckpoint(true)
        // in slice mode every member drains into the SAME shared archive:
        // Backfill serializes the day rewrites under a cross-process lock
        // (see Backfill.apply — two unsynchronized members rewriting the
        // same day would race the read-merge-swap and permanently lose
        // the loser's rows after its journal truncated). Contention SKIPS
        // the drain instead of waiting: the rows stay in the overlay and
        // the journal (still served, still durable) and the next
        // scheduler tick retries against the winner's committed rewrite.
        val wrote =
          try Some(td.timeColumn match {
            case Some(tc) if drained.get(table).contains(dir) =>
              graft.ingest.Backfill(spark, dir, delta, tc, td.primaryKey,
                sortCols, exclusive = swap => swapping(table, dir)(swap))
            case Some(tc) => graft.ingest.Archiver.archive(view, tc, sortCols, dir)
            case None =>
              val snapshot = view
              swapping(table, dir)(graft.ingest.Snapshot.write(snapshot, dir))
          })
          catch { case _: graft.exec.GenerationLock.Busy => None }
        if (wrote.isEmpty) {
          log.warn(s"drain of table $table skipped: another member is " +
            s"draining into $dir — rows stay in the overlay and " +
            "journal, retried next tick")
        } else {
          drained.put(table, dir)
          pending.remove(table)
          mutationCounts.remove(table)
          pendingByteCounts.remove(table)
          // the drained rows are durably in the archive now — their journal
          // records have done their job (ref: redo-log truncation once
          // batches are archived, file_redolog_manager.go checkpoint); the
          // archive location itself persists so a restart serves from it
          persistDrained()
          journal.foreach(_.truncate(table))
          // slice mode: refresh this member's local serving copy from the
          // shared archive NOW — the drained rows left the overlay above,
          // so without the pull the days this member serves would go stale
          // until its next scheduled sync
          postDrainHooks.get(table).foreach(_.apply())
        }
      }
    }
  }

  // ---- SchedulableStore (the periodic-job scheduler's view) ---------------

  def tableNames: Seq[String] =
    (baseCatalog.tables.keys ++ schemaStore.names).toSeq.distinct.sorted

  def isFactTable(table: String): Boolean = catalog(table).isFact

  def jobConfig(table: String): graft.ingest.TableJobConfig =
    schemaStore.get(table).map(_.config).getOrElse(graft.ingest.TableJobConfig())

  def hasLiveRows(table: String): Boolean = pending.contains(table)

  def mutationsSinceDrain(table: String): Long =
    mutationCounts.getOrElse(table, 0L)

  /** Serialized bytes ingested since the last drain — the backfill
    * buffer size analogue (see [[pendingByteCounts]]).
    */
  def pendingBytes(table: String): Long =
    pendingByteCounts.getOrElse(table, 0L)

  def archiveDir(table: String): Option[String] = drained.get(table)

  def purge(table: String, retainFromDay: String): Seq[String] =
    drained.get(table)
      .map(dir => tableLocks.getOrElseUpdate(table, new Object).synchronized {
        swapping(table, dir)(graft.ingest.Archiver.purge(spark, dir, retainFromDay))
      })
      .getOrElse(Nil)

  /** Scheduler-driven archive compaction: fold fragmented day partitions
    * (incremental drains append files) back to sorted files, restoring
    * the one-sorted-batch-per-day invariant of the reference's archiving
    * merge. Under the table lock like drain/purge — a concurrent drain
    * must not append into a partition mid-swap — and, like them, each
    * day's swap waits out queries reading the dir.
    */
  override def compact(table: String, dir: String): Unit =
    tableLocks.getOrElseUpdate(table, new Object).synchronized {
      graft.ingest.Compactor.compact(spark, dir,
        archiveSortCols(table, catalog(table)),
        exclusive = swap => swapping(table, dir)(swap))
    }

  // ---- journal replay (construction-time recovery) ------------------------
  // The reference replays its redo logs before a datanode serves
  // (memstore/recovery.go) — same here: every clean journal record
  // re-applies through the normal ingest path, restoring the overlay
  // this instance held when it died. A record that no longer
  // applies (its table was deleted, a bad batch that 400'd at ingest
  // time) is skipped with a warning, not fatal — recovery must converge.
  journal.foreach { j =>
    j.tables.foreach { t =>
      var applied = 0
      j.replay(t).foreach { case (kind, payload) =>
        try {
          applyIngest(t, payload, kind == graft.ingest.UpsertJournal.KindBinary)
          applied += 1
        } catch {
          case NonFatal(e) =>
            log.warn(s"journal replay for table $t: skipping unreplayable batch " +
              s"(${Option(e.getMessage).getOrElse(e.getClass.getName)})")
        }
      }
      if (applied > 0)
        log.info(s"journal replay restored $applied batch(es) into table $t's overlay")
    }
  }

  def start(): Unit = {
    schemaSync.foreach(_.start())
    http.start()
  }
  def stop(): Unit = {
    schemaSync.foreach(_.close())
    journal.foreach(_.close())
    http.stop()
  }
  def boundPort: Int = http.boundPort
}

object GraftServer {
  /** The debug console page (served at GET /ui). Static, dependency-free
    * HTML+JS over the JSON endpoints — the Spark-side counterpart of the
    * reference's bundled debug UI (/root/reference/api/ui/).
    */
  private[api] val ConsoleHtml: String =
    """<!doctype html>
      |<html><head><meta charset="utf-8"><title>graft console</title>
      |<style>
      | body{font-family:ui-monospace,Menlo,monospace;margin:1.5rem;background:#111;color:#ddd}
      | h1{font-size:1.1rem} h2{font-size:.95rem;margin-top:1.4rem;color:#9cf}
      | table{border-collapse:collapse;font-size:.8rem}
      | td,th{border:1px solid #333;padding:.25rem .5rem;text-align:left}
      | th{background:#1b1b1b} tr:nth-child(even){background:#161616}
      | textarea{width:100%;height:8rem;background:#161616;color:#ddd;border:1px solid #333}
      | pre{background:#161616;border:1px solid #333;padding:.6rem;overflow:auto;font-size:.75rem}
      | button{background:#234;border:1px solid #456;color:#ddd;padding:.3rem .8rem;cursor:pointer}
      | .stat{display:inline-block;margin-right:1.5rem}
      | .stat b{color:#9f9;font-size:1.1rem}
      |</style></head><body>
      |<h1>graft console</h1>
      |<div id="stats"></div>
      |<h2>recent queries</h2>
      |<table id="recent"><thead><tr><th>endpoint</th><th>table</th>
      |<th>wall ms</th><th>rows scanned</th><th>rows out</th></tr></thead>
      |<tbody></tbody></table>
      |<h2>tables</h2><pre id="tables"></pre>
      |<h2>plan debugger</h2>
      |<p>paste an AQL query document and read the formatted physical plan (unexecuted):</p>
      |<textarea id="aql">{"table": "events",
      | "measures": [{"alias": "n", "sqlExpression": "count(*)"}],
      | "dimensions": [{"alias": "et", "sqlExpression": "event_type"}]}</textarea>
      |<p><button onclick="plan()">explain</button></p>
      |<pre id="plan"></pre>
      |<script>
      |// metric fields are attacker-influenced (a table name is free text via
      |// the schema API) — build DOM nodes with textContent, never innerHTML,
      |// or the console becomes stored XSS for whoever views it
      |function cell(tag, text){
      |  const el = document.createElement(tag); el.textContent = text; return el;
      |}
      |async function refresh(){
      |  const m = await (await fetch('/metrics')).json();
      |  const stats = document.getElementById('stats');
      |  stats.replaceChildren(...['queries','errors','rejected','deadlineCancelled','ingestedRows','ingestBatches']
      |    .filter(k => k in m)
      |    .map(k => {
      |      const s = cell('span', k + ' '); s.className = 'stat';
      |      s.appendChild(cell('b', m[k])); return s;
      |    }));
      |  const tb = document.querySelector('#recent tbody');
      |  tb.replaceChildren(...(m.recent||[]).slice(-20).reverse().map(r => {
      |    const tr = document.createElement('tr');
      |    [r.endpoint||'', r.table||'', r.wallMs??'', r.rowsScanned??'',
      |     r.rowsReturned??''].forEach(v => tr.appendChild(cell('td', v)));
      |    return tr;
      |  }));
      |  const ts = await (await fetch('/schema/tables')).json();
      |  document.getElementById('tables').textContent = ts.join('  ');
      |}
      |async function plan(){
      |  const r = await fetch('/dbg/plan', {method:'POST',
      |    body: document.getElementById('aql').value});
      |  document.getElementById('plan').textContent = await r.text();
      |}
      |refresh(); setInterval(refresh, 5000);
      |</script></body></html>""".stripMargin
}
