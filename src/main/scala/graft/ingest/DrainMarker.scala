package graft.ingest

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Drain-freshness marker for the shared archive: every [[Backfill]]
  * commit appends `(seq, affectedDays)` to `.drain-marker.json` (bounded
  * window, atomic rename), and each member's [[graft.exec.SliceSync]]
  * records the marker seq it has synced THROUGH in its local store
  * (`.synced-seq`). A member can then tell, with ONE small file read per
  * query, exactly which of its owned days were rewritten since its last
  * sync — and serve those from the shared archive instead of its stale
  * local cache.
  *
  * Without this, a peer's drain into a day THIS member owns had a
  * staleness window as long as the sync tick: the rows were visible from
  * the peer's overlay pre-drain, then invisible until the owner's next
  * sync — a non-monotonic undercount (caught by ClusterSoakSpec).
  * Missing-day fallback alone doesn't close it; REWRITTEN days need the
  * marker.
  *
  * The window is bounded ([[RecentCap]] drains). A member whose synced
  * seq has fallen behind the window's coverage cannot enumerate its stale
  * days — [[staleDays]] returns None and the caller serves ALL its owned
  * days from shared (correct, just cache-less) until a sync catches up.
  */
object DrainMarker {

  val MarkerFile = ".drain-marker.json"
  val SyncedFile = ".synced-seq"
  val RecentCap = 64

  /** @param corrupt the marker FILE exists but did not parse — distinct
    *   from "no marker yet" (seq 0, not corrupt). A corrupt marker must
    *   fail toward conservative full-shared serving, never toward stale
    *   caches: a member whose `.synced-seq` is ahead of a reset-to-zero
    *   seq counter would otherwise see `marker.seq <= syncedSeq` and keep
    *   serving its stale local days for every subsequent rewrite.
    * @param inflight a writer holding the archive lock is INSIDE its
    *   directory-swap window right now ([[beginRewrite]] was written and
    *   the finalizing [[bump]] has not landed yet). A query that observed
    *   an inflight marker may have listed the archive mid-swap — its
    *   answer is not comparable with any other member's in the same
    *   scatter wave (see [[graft.exec.ArchiveEpoch]]); the broker retries
    *   the wave instead of merging it.
    * @param swapping the days an inflight writer is swapping — what
    *   [[PartitionSwap]]'s recovery bumps when that writer crashed.
    */
  final case class Marker(seq: Long, recent: Seq[(Long, Seq[String])],
      corrupt: Boolean = false, inflight: Boolean = false,
      swapping: Seq[String] = Nil)

  def read(dir: String, conf: Configuration): Marker = {
    val p = new Path(dir, MarkerFile)
    if (!p.getFileSystem(conf).exists(p)) return Marker(0L, Nil)
    try {
      val j = JsonMethods.parse(readText(p, conf))
      val seq = j \ "seq" match {
        case JInt(v) => v.toLong
        case JLong(v) => v
        case _ => return Marker(0L, Nil, corrupt = true)
      }
      def days(v: JValue) = v.children.collect { case JString(d) => d }
      val recent = j \ "recent" match {
        case JArray(es) => es.flatMap { e =>
          (e \ "seq", e \ "days") match {
            case (JInt(s), ds: JArray) => Some(s.toLong -> days(ds))
            case (JLong(s), ds: JArray) => Some(s -> days(ds))
            case _ => None
          }
        }
        case _ => Nil
      }
      Marker(seq, recent, inflight = j \ "inflight" == JBool(true),
        swapping = days(j \ "swapping"))
    } catch { case _: Exception => Marker(0L, Nil, corrupt = true) }
  }

  /** Announce an imminent swap of `days` BEFORE any rename makes it
    * visible: rewrites the marker with `inflight: true` and the days
    * (seq and recent unchanged). Readers that observe the inflight flag —
    * or whose before/after marker reads differ — know their archive
    * listing may straddle the swap and report a torn epoch (see
    * [[graft.exec.ArchiveEpoch]]) so the broker retries the wave. The
    * finalizing [[bump]] clears the flag. Callers hold the archive write
    * lock; a crash between begin and bump leaves the flag set until
    * [[PartitionSwap]]'s recovery rolls the swap back and bumps `days` —
    * at the next archive-lock holder, or the next slice sync once the
    * crashed writer's lock is stale.
    */
  def beginRewrite(dir: String, conf: Configuration, days: Seq[String]): Unit = {
    val prior = read(dir, conf)
    if (prior.corrupt) throw new IllegalStateException(
      s"drain marker $dir/$MarkerFile exists but is unparseable — refusing " +
        "to rewrite it (see bump); restore the marker or delete it along " +
        "with every member's .synced-seq")
    write(dir, conf, prior.seq, prior.recent, Some(days))
  }

  /** Append one drain's affected days; returns the new seq. Callers hold
    * the archive write lock, so read-modify-write is race-free; the
    * write itself is temp + rename so readers never see a torn document.
    * Clears any [[beginRewrite]] inflight flag — this IS the commit
    * point's visibility announcement.
    */
  def bump(dir: String, conf: Configuration, days: Seq[String]): Long = {
    val prior = read(dir, conf)
    // restarting the counter at 1 would strand every member whose
    // .synced-seq is higher — they would serve stale caches for every
    // rewrite until the seq climbed back past their recorded value. The
    // drain holds the archive write lock, so failing here fails the drain
    // loudly; an operator restores or removes the marker deliberately
    if (prior.corrupt) throw new IllegalStateException(
      s"drain marker $dir/$MarkerFile exists but is unparseable — refusing " +
        "to restart the seq counter (members ahead of a reset counter would " +
        "serve stale caches); restore the marker or delete it along with " +
        "every member's .synced-seq")
    val next = prior.seq + 1
    val recent = (prior.recent :+ (next -> days)).takeRight(RecentCap)
    write(dir, conf, next, recent, swapping = None)
    next
  }

  /** @param swapping the days of an inflight swap; None = not inflight */
  private def write(dir: String, conf: Configuration, seq: Long,
      recent: Seq[(Long, Seq[String])], swapping: Option[Seq[String]]): Unit = {
    def days(ds: Seq[String]): JValue = JArray(ds.map(JString(_)).toList)
    val doc = JObject(
      (Seq(
        "seq" -> (JLong(seq): JValue),
        "recent" -> (JArray(recent.map { case (s, ds) =>
          JObject("seq" -> JLong(s), "days" -> days(ds)): JValue
        }.toList): JValue)) ++
        swapping.toSeq.flatMap(ds =>
          Seq("inflight" -> (JBool(true): JValue), "swapping" -> days(ds)))): _*)
    writeText(new Path(dir), MarkerFile, conf, JsonMethods.compact(JsonMethods.render(doc)))
  }

  private def readText(p: Path, conf: Configuration): String = {
    val in = p.getFileSystem(conf).open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  /** Temp file + overwrite-rename, NOT delete-then-rename: a delete
    * first opens a vacancy window where a concurrent reader finds no
    * marker, computes an empty stale set, and serves a just-rewritten day
    * from its stale cache for that one query.
    */
  private def writeText(root: Path, name: String, conf: Configuration,
      body: String): Unit = {
    val tmp = new Path(root, s"$name.tmp")
    val out = root.getFileSystem(conf).create(tmp, true)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(root.toUri, conf)
      .rename(tmp, new Path(root, name), org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** The marker seq this member's local store has synced through. */
  def readSynced(localDir: String, conf: Configuration): Long = {
    val p = new Path(localDir, SyncedFile)
    if (!p.getFileSystem(conf).exists(p)) return 0L
    try readText(p, conf).trim.toLongOption.getOrElse(0L)
    catch { case _: Exception => 0L }
  }

  /** Same overwrite-rename as the marker (a vacancy would read as
    * synced-through 0 — conservative, but a needless full-shared query).
    */
  def writeSynced(localDir: String, conf: Configuration, seq: Long): Unit =
    writeText(new Path(localDir), SyncedFile, conf, seq.toString)

  /** Days rewritten by drains NEWER than `syncedSeq`. None = the bounded
    * window no longer covers the gap (the member is more than RecentCap
    * drains behind) — the caller must treat EVERY owned day as
    * potentially stale.
    */
  def staleDays(marker: Marker, syncedSeq: Long): Option[Set[String]] = {
    if (marker.corrupt) return None // unreadable: serve everything from shared
    // seq REGRESSION (marker reset/replaced while this member's synced-seq
    // is ahead) is a corruption signal, not "fully synced" — fail toward
    // conservative full-shared serving
    if (marker.seq < syncedSeq) return None
    if (marker.seq == syncedSeq) return Some(Set.empty)
    val newer = marker.recent.filter(_._1 > syncedSeq)
    val covered = newer.map(_._1).minOption.contains(syncedSeq + 1)
    if (!covered) None
    else Some(newer.flatMap(_._2).toSet)
  }
}
