package graft.exec

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Slice re-assignment when the member set changes — the role the
  * reference's controller plays when capacity grows or shrinks
  * (/root/reference/controller/handlers/assignment.go:57-165 serves the
  * recomputed per-subscriber assignment, placement.go:34-41 +
  * mutators/ persist placement versions; util.CalculateShardAssignment
  * spreads shards over the instance set). [[SliceBootstrap]] can replace
  * a DEAD member with an identical copy; this job changes the SHAPE of
  * the assignment: recompute day→slice ownership for the new member
  * set, copy the moved days into their new owners' local storage, drop
  * them from the old owners, and publish a version-bumped assignment
  * document atomically (the [[graft.api.SchemaSync]] write discipline).
  *
  * Ownership function: the shared archive's sorted day list is split
  * into CONTIGUOUS ranges, one per sorted slice id, sizes as equal as
  * possible (the first `days % n` slices carry one extra day).
  * Contiguous ranges keep each member a day-range slice — the
  * deployment shape the broker and the day-pruned archive scan already
  * optimize for. Movement on a grow: every boundary shifts left, so
  * about HALF the days change owner (the per-slice overlaps sum to
  * D/2 exactly under equal splitting) — better than a mod-n hash
  * assignment (~n/(n+1) moves) but not consistent-hashing-minimal;
  * the contiguity/pruning property is what's being bought.
  *
  * At 100 TB: the copy volume of a 2→3 grow is bounded by the new
  * member's 1/3 share; every copy is day-partition-granular, idempotent
  * (present days skip), and crash-safe (temp + rename), so a failed
  * rebalance re-runs to completion. Publication is last: a reader of
  * the assignment document never sees ownership the storage doesn't yet
  * back.
  */
object SliceRebalance {

  /** One published assignment: monotonically versioned day ownership. */
  final case class Assignment(version: Long, owners: Map[String, Seq[String]])

  /** Full rebalance outcome: the published assignment plus the two
    * classes of locally-held data the run had to handle specially —
    * `mergedUp` days existed ONLY in a member's local storage (a
    * scheduler drain that landed locally) and were copied up to the
    * shared archive before ownership was computed; `protectedDays` are
    * local day partitions the drop phase REFUSED to delete because the
    * shared archive does not verifiably hold their files (deleting them
    * would destroy the only copy). Both maps are empty on a healthy
    * shared-archive deployment.
    */
  final case class RebalanceResult(assignment: Assignment,
      mergedUp: Map[String, Seq[String]], protectedDays: Map[String, Seq[String]])

  /** Deterministic day→slice ownership over the CURRENT member set:
    * sorted days in contiguous near-equal ranges over sorted slice ids.
    * Total function — every day owned by exactly one slice; slices past
    * the day count own an empty range (valid: a new member of a small
    * corpus waits for data).
    */
  def ownership(days: Seq[String], sliceIds: Seq[String]): Map[String, Seq[String]] = {
    val ids = sliceIds.distinct.sorted
    require(ids.nonEmpty, "rebalance needs at least one slice")
    val sorted = days.distinct.sorted
    val n = ids.length
    val base = sorted.length / n
    val extra = sorted.length % n
    val bounds = ids.indices.scanLeft(0)((acc, i) =>
      acc + base + (if (i < extra) 1 else 0))
    ids.zipWithIndex.map { case (id, i) =>
      id -> sorted.slice(bounds(i), bounds(i + 1))
    }.toMap
  }

  /** Execute a rebalance: recompute ownership from the shared archive's
    * day list and `localDirs.keys` (the new member set), make every
    * member's local storage match its owned days (copy in, drop out),
    * then publish the assignment to `topologyDir/assignment.json`.
    * Returns the published assignment. Idempotent: a re-run with the
    * same member set copies nothing, drops nothing, and keeps the same
    * version (the document only version-bumps when ownership CHANGES).
    */
  def rebalance(spark: SparkSession, sharedArchiveDir: String,
      localDirs: Map[String, String], topologyDir: String): Assignment =
    rebalanceDetailed(spark, sharedArchiveDir, localDirs, topologyDir).assignment

  /** [[rebalance]] with the full outcome (merged-up and protected days —
    * see [[RebalanceResult]]). The shared archive is the source of truth
    * by contract, but the drop phase never TRUSTS that contract with
    * member data: a day partition is deleted from a member only when the
    * shared archive verifiably holds every one of its files.
    *
    * Fenced against concurrent rebalances: the published assignment's
    * version is read at entry, and [[publish]] refuses (named error,
    * BEFORE the drop phase) if the on-disk version moved in between —
    * two `RebalanceMain --watch` processes racing (an operator mistake
    * that will happen) resolve to exactly one winner instead of
    * last-writer-wins over divergent ownership views. The reference
    * serializes placement through etcd
    * (controller/handlers/assignment.go:57-165, cluster/kvstore); the
    * file-published analogue is this version fence plus a publish lock.
    * Deploy a SINGLE --watch rebalancer per topology dir regardless —
    * the fence turns the mistake loud and loss-free (the loser's copies
    * are over-replication GC'd by the next successful rebalance; its
    * drops never ran), not silent.
    */
  def rebalanceDetailed(spark: SparkSession, sharedArchiveDir: String,
      localDirs: Map[String, String], topologyDir: String): RebalanceResult =
    rebalanceDetailed(spark, sharedArchiveDir, localDirs, topologyDir,
      read(topologyDir).map(_.version))

  /** [[rebalanceDetailed]] with an explicit fence: `expectedVersion` is
    * the published assignment version the caller's ownership view was
    * computed against (None = no assignment existed). The publish aborts
    * by name if the on-disk version differs at publish time.
    */
  def rebalanceDetailed(spark: SparkSession, sharedArchiveDir: String,
      localDirs: Map[String, String], topologyDir: String,
      expectedVersion: Option[Long]): RebalanceResult = {
    // merge-up FIRST: a day a member's scheduler drained into LOCAL
    // storage exists nowhere else — it must reach the shared archive
    // before the day list is read (so it gets an owner) and before any
    // drop phase could touch it (so the only copy is never deleted)
    val mergedUp = mergeUp(spark, sharedArchiveDir, localDirs)
    val days = SliceBootstrap.localDays(spark, sharedArchiveDir)
    val owners = ownership(days, localDirs.keys.toSeq)
    // copy → PUBLISH → drop: members serving through [[servingCatalog]]
    // answer only for days the published assignment grants them, so the
    // over-replicated state between copy and drop (or after a crash
    // anywhere in the sequence) can never double count — storage is a
    // superset of ownership throughout, and the drops are pure GC after
    // the ownership switch
    owners.foreach { case (slice, owned) =>
      SliceBootstrap.copyDays(spark, sharedArchiveDir, localDirs(slice), owned.toSet)
    }
    val published = publish(topologyDir, owners, expectedVersion)
    // guarded drop: a local day leaves a member only when the shared
    // archive holds ALL of its files (a bootstrapped copy, possibly
    // partial, of the shared partition). A local partition with files
    // the shared day lacks — a local backfill of an existing day, or a
    // merge-up conflict — is skipped LOUDLY and surfaced in the result;
    // deleting it would silently destroy rows only this member holds.
    val protectedDays = owners.map { case (slice, owned) =>
      val (_, skipped) = retainDaysGuarded(spark, localDirs(slice), owned.toSet,
        day => sharedHoldsAllFiles(spark, sharedArchiveDir, localDirs(slice), day))
      slice -> skipped
    }.filter(_._2.nonEmpty)
    RebalanceResult(published, mergedUp, protectedDays)
  }

  /** Copy whole day partitions that exist ONLY in a member's local
    * storage up into the shared archive (staged, then installed and
    * announced like any archive day swap). Returns slice → days merged.
    * A day two members both hold un-shared merges from the first (sorted)
    * member; the second member's divergent copy is then a merge CONFLICT
    * — its files are not in the shared day — and the guarded drop phase
    * protects it.
    */
  private def mergeUp(spark: SparkSession, sharedArchiveDir: String,
      localDirs: Map[String, String]): Map[String, Seq[String]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val shared = new Path(sharedArchiveDir)
    // the merge-up WRITES the shared archive, so it takes the archive
    // write lock Backfill holds (a drain's day rewrite mid-merge-up could
    // otherwise interleave with these copies); a fresh holder means a
    // drain is in flight — abort by name, re-run
    graft.ingest.PartitionSwap.withArchiveLock(sharedArchiveDir, conf, "rebalance",
      " — a drain backfill is in flight; re-run the rebalance.") { sharedFs =>
      val prefix = s"${graft.ingest.Archiver.DayCol}="
      localDirs.toSeq.sortBy(_._1).map { case (slice, dir) =>
        val local = new Path(dir)
        val fs = local.getFileSystem(conf)
        val days = SliceBootstrap.localDays(spark, dir)
          .filterNot(d => sharedFs.exists(new Path(shared, s"$prefix$d")))
        days.foreach { day =>
          FileUtil.copy(fs, new Path(local, s"$prefix$day"), sharedFs,
            graft.ingest.PartitionSwap.staging(shared, s"$prefix$day"), false, conf)
          log.warn(s"rebalance merged locally-drained day $day from member " +
            s"'$slice' up to the shared archive")
        }
        if (days.nonEmpty)
          graft.ingest.PartitionSwap.installDays(sharedFs, shared, conf, days, flagged = days)
        slice -> days
      }.filter(_._2.nonEmpty).toMap
    }
  }

  /** True when the shared archive's `day` partition contains every file
    * (by name) of the member's local `day` partition — the safety
    * predicate for dropping the local copy. File NAMES suffice: parquet
    * part files carry write-unique UUIDs, so a same-named file is the
    * same write.
    */
  private def sharedHoldsAllFiles(spark: SparkSession, sharedArchiveDir: String,
      localDir: String, day: String): Boolean = {
    def names(dir: String) = SliceSync.fileSet(spark, dir, day).map(_._1)
    names(localDir).subsetOf(names(sharedArchiveDir))
  }

  /** [[SliceBootstrap.retainDays]] with a safety predicate: a day outside
    * `keep` is deleted only when `droppable(day)` holds; otherwise it is
    * skipped loudly and returned in the second element. The belt half of
    * the rebalance drop phase's belt-and-braces — even a buggy ownership
    * computation cannot make this delete a day the shared archive lacks.
    */
  def retainDaysGuarded(spark: SparkSession, localDir: String, keep: Set[String],
      droppable: String => Boolean): (Seq[String], Seq[String]) = {
    val p = new Path(localDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (dropped, skipped) = SliceBootstrap.localDays(spark, localDir)
      .filterNot(keep.contains).partition(droppable)
    dropped.foreach(day =>
      fs.delete(new Path(p, s"${graft.ingest.Archiver.DayCol}=$day"), true))
    skipped.foreach(day =>
      log.warn(s"rebalance REFUSED to drop local day $day from $localDir: " +
        "the shared archive does not hold all of its files — a drain " +
        "landed here locally; resolve by merging it up or re-running " +
        "rebalance (whole-day merges are automatic)"))
    (dropped, skipped)
  }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** `base` with its `events` fact table served ASSIGNMENT-AWARE from
    * `localDir`: the load filters to the days the PUBLISHED assignment
    * grants `slice` — the reference's serve-by-owned-shards contract.
    * Storage may be over-replicated (mid-rebalance copies, deferred
    * drops, crash windows) without this member ever double answering;
    * the assignment document is re-read per query (one small file,
    * atomically renamed — a torn read is impossible), so a publish takes
    * effect on every member's NEXT query with no restart. With no
    * published assignment the member serves its whole local dir (the
    * pre-rebalance deployment). The day filter is a literal IN-list on
    * the partition column — statically pruned at the scan.
    *
    * A slice id ABSENT from the published assignment serves ZERO days
    * (with a loud per-query log) — this is what keeps the tier AVAILABLE
    * through a grow window: a new member registers into the topology
    * before any rebalance has assigned it days, and under the published
    * assignment every day still has exactly one owner among the OLD
    * slices, so the new member contributing nothing is the globally
    * correct answer (true both while it is empty and mid-copy, when its
    * accumulating days are still owned and served by their v-current
    * owners). The hazard this used to guard by erroring — a typo'd
    * `SPARK_GRAFT_SLICE` silently undercounting because the data-holding
    * member serves zero while the CORRECTLY-spelled assigned slice has no
    * member at all — is caught at the fan-out instead:
    * [[BrokerTopology.slices]] refuses to scatter while an assigned slice
    * has no live member. A slice PRESENT with an empty day list
    * legitimately serves nothing (a new member of a small corpus).
    *
    * Operational caveats (the trade the simple document model makes):
    * the no-double-count guarantee requires EVERY serving member to be
    * assignment-aware — a member serving its raw local dir
    * ([[SliceBootstrap.eventsCatalog]], meant for the static
    * replace-a-dead-member flow) can double count during a rebalance's
    * copy→drop window. For the FIRST rebalance of a previously
    * assignment-less deployment, run rebalance once with the CURRENT
    * member set (publishing the matching assignment, moving little or
    * nothing) before growing, so the boundary-shifting grow happens
    * under assignment-aware serving.
    */
  /** @param sharedArchiveDir slice-mode deployments pass the SHARED
    *   archive here (the drain target): an OWNED day not yet present in
    *   local storage serves straight from the shared archive until the
    *   periodic [[SliceSync]] lands it locally. Without this fallback, a
    *   fresh day a PEER drained has a serving gap — visible from the
    *   peer's live overlay before its drain, then served by NOBODY until
    *   the owner's next sync tick (non-monotonic freshness, a silent
    *   undercount window as long as the tick interval). Ownership decides
    *   serving; local storage is only the cache. Empty = local-only (the
    *   pre-slice-mode behavior).
    */
  /** Assignment versions the CURRENT THREAD's in-flight query served
    * under — the fan-out consistency protocol. [[servingCatalog]]'s load
    * records the version it read at plan time; the HTTP layer surfaces it
    * as an `X-Graft-Assignment-Version` response header; the broker
    * retries a scatter wave whose slices answered under DIFFERENT
    * versions (a rebalance published mid-fan-out: the old owner planned
    * against v1 and the new owner against v2, so a moved day could answer
    * twice — or zero times — within that one wave). Thread-local is
    * sound here: compile AND collect run on the member's HTTP handler
    * thread (QueryService), and a member serves one query per thread.
    */
  private val servedVersionsTL =
    new ThreadLocal[scala.collection.mutable.Set[Long]]

  def beginVersionCapture(): Unit =
    servedVersionsTL.set(scala.collection.mutable.Set.empty[Long])

  def capturedVersions(): Set[Long] =
    Option(servedVersionsTL.get).map(_.toSet).getOrElse(Set.empty)

  def endVersionCapture(): Unit = servedVersionsTL.remove()

  private def noteServed(version: Long): Unit =
    Option(servedVersionsTL.get).foreach(_ += version)

  def servingCatalog(base: graft.aql.Catalog, localDir: String,
      topologyDir: String, slice: String, conf: Configuration,
      sharedArchiveDir: String = ""): graft.aql.Catalog = {
    // startup typo guard: an ESTABLISHED member (its local store already
    // holds day partitions) whose configured slice id is absent from a
    // published, nonempty assignment is almost certainly misconfigured —
    // e.g. SPARK_GRAFT_SLICE=s11 for s1. Serving zero days is only safe
    // mid-grow (fresh member, empty local store, rebalance imminent); for
    // an established member it is a silent undercount behind a
    // static-hosts broker, which performs no assignment-coverage check.
    // Fail here, at construction, where the operator sees it immediately.
    // The listing goes through the session's Hadoop conf (`conf`): a
    // store on s3a/hdfs is configured there, not in classpath defaults.
    read(topologyDir).foreach { a =>
      if (a.owners.nonEmpty && !a.owners.contains(slice)) {
        val p = new Path(localDir)
        val fs = p.getFileSystem(conf)
        val prefix = s"${graft.ingest.Archiver.DayCol}="
        val hasLocalDays = fs.exists(p) &&
          fs.listStatus(p).exists(st =>
            st.isDirectory && st.getPath.getName.startsWith(prefix))
        if (hasLocalDays) throw new IllegalStateException(
          s"slice '$slice' is not in published assignment v${a.version} " +
            s"(slices: ${a.owners.keys.toSeq.sorted.mkString(", ")}) but its " +
            s"local store $localDir already holds day partitions — likely a " +
            "misconfigured SPARK_GRAFT_SLICE. A member serving zero days here " +
            "silently undercounts behind a static-hosts broker. Fix the slice " +
            "id, or clear the local store if this really is a fresh member")
      }
    }
    val ev = base.tables("events")
    base.copy(tables = base.tables + ("events" -> ev.copy(load = s => {
      import org.apache.spark.sql.functions.{col, lit}
      val dayCol = graft.ingest.Archiver.DayCol
      read(topologyDir) match {
        case Some(a) if !a.owners.contains(slice) =>
          noteServed(a.version)
          // grow window: registered but not yet assigned — serve zero
          // days (see scaladoc; the broker's assignment-coverage check
          // owns the typo hazard). The empty relation takes its SCHEMA
          // from the base table: a brand-new member's local dir may not
          // exist yet, so local storage is never read on this path
          log.warn(s"slice '$slice' is not in published assignment " +
            s"v${a.version} (slices: ${a.owners.keys.toSeq.sorted.mkString(", ")}) " +
            "— serving zero days until a rebalance assigns it")
          ev.load(s).where(lit(false))
        case Some(a) =>
          noteServed(a.version)
          // serve the locally present days this slice EXTENDED-owns: its
          // assigned days plus any day the assignment predates (a fresh
          // drain since the last rebalance) whose contiguous range falls
          // to this slice — [[extendedOwner]] is deterministic over the
          // same document on every member, so each day has exactly one
          // server with no republish between drains
          val localDays = SliceBootstrap.localDays(s, localDir)
          val ownedLocal = localDays.filter(d => extendedOwner(a, d).contains(slice))
          // owned days the local cache lacks (a peer's fresh drain this
          // member's sync has not pulled yet) OR holds a STALE copy of (a
          // peer's drain REWROTE them since this member's last sync — the
          // drain marker tells which, one small read per query) serve
          // from the shared archive; slice mode only
          val (missing, stale, purged) =
            if (sharedArchiveDir.isEmpty)
              (Nil, Set.empty[String], Set.empty[String])
            else {
              val conf = s.sparkContext.hadoopConfiguration
              // read the marker BEFORE any shared listing and note it for
              // the epoch token (seqlock read-side begin; GraftServer
              // notes it again after the query body ran)
              val marker = graft.ingest.DrainMarker.read(sharedArchiveDir, conf)
              ArchiveEpoch.note("events", marker)
              val syncedSeq = graft.ingest.DrainMarker.readSynced(localDir, conf)
              val st = graft.ingest.DrainMarker.staleDays(marker, syncedSeq) match {
                case Some(days) => days
                // more than the marker window behind: every owned day is
                // potentially stale — serve them all from shared
                // (correct, just cache-less) until a sync catches up
                case None => ownedLocal.toSet
              }
              val sharedDays = SliceBootstrap.localDays(s, sharedArchiveDir).toSet
              val have = ownedLocal.toSet
              val miss = sharedDays.toSeq.filter(d =>
                !have.contains(d) && extendedOwner(a, d).contains(slice))
              // a local day ABSENT from the shared archive was purged
              // (retention): the local cache copy must stop serving NOW,
              // not at some future cleanup — serving purged rows is the
              // compliance failure retention exists to prevent. (A
              // genuinely local-only day — a pre-slice-mode drain — needs
              // a rebalance merge-up before it serves, by design.)
              (miss, st, have -- sharedDays)
            }
          val fromLocal = ownedLocal.filterNot(d =>
            stale.contains(d) || purged.contains(d))
          val fromShared = missing ++ ownedLocal.filter(d =>
            stale.contains(d) && !purged.contains(d))
          val localScan =
            if (localDays.isEmpty || fromLocal.isEmpty) None
            else Some(graft.Tables.parquet(s, localDir)
              .where(col(dayCol).isin(fromLocal: _*)))
          val sharedScan =
            if (fromShared.isEmpty) None
            else Some(graft.Tables.parquet(s, sharedArchiveDir)
              .where(col(dayCol).isin(fromShared: _*)))
          (localScan, sharedScan) match {
            case (Some(l), Some(sh)) => l.unionByName(sh)
            case (Some(l), None) => l
            case (None, Some(sh)) => sh
            case (None, None) => ev.load(s).where(lit(false))
          }
        case None =>
          noteServed(0L) // pre-assignment deployment: version 0 by convention
          graft.Tables.parquet(s, localDir)
      }
    })))
  }

  /** Deterministic serving owner for ANY day under a published
    * assignment, including days that postdate it (fresh drains between
    * rebalances): an assigned day is served by its assigned slice; an
    * unassigned day by the slice owning the contiguous range it sorts
    * into — the owner of the greatest assigned day ≤ d, else the owner
    * of the smallest assigned day. Total whenever any day is assigned;
    * None only for an assignment with zero assigned days.
    */
  def extendedOwner(a: Assignment, day: String): Option[String] = {
    val assigned = a.owners.toSeq
      .flatMap { case (s, ds) => ds.map(_ -> s) }.sortBy(_._1)
    assigned.takeWhile(_._1 <= day).lastOption.map(_._2)
      .orElse(assigned.headOption.map(_._2))
  }

  /** Current published assignment, if any. */
  def read(topologyDir: String): Option[Assignment] = {
    val f = Paths.get(topologyDir, "assignment.json")
    if (!Files.exists(f)) return None
    val j = JsonMethods.parse(Files.readString(f))
    val version = j \ "version" match {
      case JInt(v) => v.toLong
      case JLong(v) => v
      case _ => return None
    }
    val owners = j \ "owners" match {
      case JObject(fields) => fields.map { case (k, v) =>
        k -> v.children.collect { case JString(d) => d }
      }.toMap
      case _ => return None
    }
    Some(Assignment(version, owners))
  }

  /** Version-bump-on-change publication with the SchemaSync atomic-write
    * discipline: temp file + ATOMIC_MOVE rename, so a concurrent reader
    * sees the old complete document or the new complete document, never
    * a torn one.
    *
    * Fenced: the re-read + rename run under the publish lock, and the
    * re-read version must equal `expectedVersion` (the version the
    * caller's ownership computation was based on). A moved version means
    * a concurrent rebalance won — this one aborts with a named error
    * before any of its drops run, leaving storage over-replicated, never
    * under.
    */
  private def publish(topologyDir: String, owners: Map[String, Seq[String]],
      expectedVersion: Option[Long]): Assignment = {
    Files.createDirectories(Paths.get(topologyDir))
    withPublishLock(topologyDir) { assertStillHeld =>
      val prior = read(topologyDir)
      if (prior.map(_.version) != expectedVersion)
        throw new IllegalStateException(
          s"rebalance fenced: the published assignment is " +
            s"v${prior.map(_.version).getOrElse(0L)} but this rebalance computed " +
            s"ownership against v${expectedVersion.getOrElse(0L)} — a concurrent " +
            "rebalance published first. Aborting before the drop phase (local " +
            "storage stays a superset of ownership); re-run against the current " +
            "assignment, and deploy a single --watch rebalancer per topology dir.")
      prior match {
        case Some(p) if p.owners == owners => p
        case _ =>
          val next = Assignment(prior.map(_.version + 1).getOrElse(1L), owners)
          val doc = JObject(
            "version" -> JLong(next.version),
            "owners" -> JObject(next.owners.toSeq.sortBy(_._1).map { case (k, ds) =>
              k -> (JArray(ds.map(JString(_)).toList): JValue)
            }: _*))
          val tmp = Paths.get(topologyDir, s".assignment.json.tmp")
          Files.writeString(tmp, JsonMethods.compact(JsonMethods.render(doc)),
            StandardCharsets.UTF_8)
          // commit-point fence: a publisher that stalled 60s+ since its
          // entry check may have been reclaimed (and the ladder may even
          // have reset to its own generation number) — re-verify nonce
          // and generation immediately before the one irreversible step
          assertStillHeld()
          Files.move(tmp, Paths.get(topologyDir, "assignment.json"),
            StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
          next
      }
    }
  }

  /** Serialize the check-and-rename of [[publish]] across processes via
    * the GENERATION-LADDER lock ([[GenerationLock]] — extracted from this
    * fence so shared-archive writers reuse it; its scaladoc carries the
    * full protocol rationale and hammer-spec history). The publish holds
    * for milliseconds, so fresh contention aborts by name — re-run.
    * A bare legacy `.assignment.lock` counts as generation 0, so a
    * pre-ladder rebalancer still fences a current one during a rolling
    * upgrade.
    *
    * Residual (documented): a publisher that stalls longer than
    * [[StaleLockMs]] BETWEEN the commit-point `stillHeld` and its
    * assignment rename can still double-publish against its usurper —
    * irreducible without an atomic compare-and-swap primitive, requires
    * a 60 s freeze landing inside a microseconds window, and even then
    * the version fence bounds the damage to a same-base overwrite,
    * never a drop under a foreign ownership view. Deploy a single
    * `--watch` rebalancer per topology dir (DEPLOYMENT.md).
    */
  private val StaleLockMs = 60000L
  private[exec] def withPublishLock[T](topologyDir: String)(
      body: (() => Unit) => T): T =
    GenerationLock.withLock(GenerationLock.nio(Paths.get(topologyDir)),
      ".assignment.lock", StaleLockMs, role = "rebalance",
      noun = "publish lock",
      hint = " — aborting before the drop phase. Re-run; a lock older " +
        s"than ${StaleLockMs}ms is taken over automatically.")(body)
}
