package graft.ingest

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import graft.exec.GenerationLock

/** The one way a partition directory (`day=`, `bucket=`, `cell=`) of an
  * archive or of a member's local copy is replaced — the reference's
  * archiving/backfill swap (memstore/archiving.go:59-141,
  * backfill.go:30-108) with its crash recovery (memstore/recovery.go).
  *
  * A writer stages partition `p` of `root` at `root/.graft-staging/p`;
  * [[install]] renames the target to `root/.graft-trash/p`, the staged
  * copy to the target, and deletes the trash. Both names are hidden from
  * Spark's listing. At every crash point each byte of the old partition
  * is in the target or the trash, and [[recover]] rolls the swap back: a
  * trash dir whose target is missing is renamed back, one whose target
  * exists is deleted, staging is deleted, and an inflight drain marker is
  * bumped with the days it recorded. Rolling back is safe because a
  * writer commits nothing before its `bump` returns: a crashed drain never
  * truncated its journal, so its retry re-applies the same delta, and the
  * PK upsert is idempotent.
  *
  * Archive writers recover under the archive write lock
  * ([[withArchiveLock]]); local copies roll back only the partition they
  * are about to copy ([[stage]]). Local copies take no file lock: each
  * member owns its local dir, and [[graft.exec.SliceSync.sync]] runs its
  * copies into one dir one at a time inside the process.
  */
object PartitionSwap {

  val LockName = ".graft-archive.lock"
  /** A lock untouched this long belongs to a crashed writer. */
  val StaleMs = 120000L
  /** Live holders re-touch the lock, so a long rewrite never goes stale. */
  val HeartbeatMs = 15000L
  val Staging = ".graft-staging"
  val Trash = ".graft-trash"

  def staging(root: Path, part: String): Path = new Path(new Path(root, Staging), part)

  private def trash(root: Path, part: String) = new Path(new Path(root, Trash), part)

  /** Run `body` under the archive write lock of `dir`, after rolling back
    * a crashed holder's swap; staging and trash are cleared on success. A
    * fresh holder raises [[GenerationLock.Busy]].
    */
  def withArchiveLock[T](dir: String, conf: Configuration, role: String,
      hint: String = "")(body: FileSystem => T): T = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    GenerationLock.withLock(GenerationLock.hadoop(root, conf), LockName, StaleMs,
      role, "archive write lock", hint, HeartbeatMs) { _ =>
      recover(fs, root, conf)
      val out = body(fs)
      Seq(Staging, Trash).foreach(n => fs.delete(new Path(root, n), true))
      out
    }
  }

  /** [[recover]] `dir` unless a live writer holds its lock (that writer's
    * own `bump` ends its swap); a lock older than [[StaleMs]] is taken over.
    */
  def recoverUnlessHeld(dir: String, conf: Configuration): Unit = {
    val root = new Path(dir)
    GenerationLock.tryWithLock(GenerationLock.hadoop(root, conf), LockName, StaleMs,
      "recovery", "archive write lock", HeartbeatMs)(_ =>
      recover(root.getFileSystem(conf), root, conf))
  }

  private def recover(fs: FileSystem, root: Path, conf: Configuration): Unit = {
    val trashRoot = new Path(root, Trash)
    if (fs.exists(trashRoot))
      fs.listStatus(trashRoot).foreach(st => rollBack(fs, root, st.getPath.getName))
    fs.delete(new Path(root, Staging), true)
    val m = DrainMarker.read(root.toString, conf)
    if (m.inflight) DrainMarker.bump(root.toString, conf, m.swapping)
  }

  private def rollBack(fs: FileSystem, root: Path, part: String): Unit = {
    val (old, target) = (trash(root, part), new Path(root, part))
    if (fs.exists(old) && !fs.exists(target))
      require(fs.rename(old, target), s"swap rollback: rename $old -> $target failed")
    else fs.delete(old, true)
    fs.delete(staging(root, part), true)
  }

  /** The staging path of `part` for a local copy, after rolling back a
    * crashed copy of that partition.
    */
  def stage(fs: FileSystem, root: Path, part: String): Path = {
    rollBack(fs, root, part)
    staging(root, part)
  }

  /** Replace each of `parts` that has a staged copy by that copy. */
  def install(fs: FileSystem, root: Path, parts: Seq[String]): Unit = {
    fs.mkdirs(new Path(root, Trash))
    parts.filter(p => fs.exists(staging(root, p))).foreach { p =>
      val target = new Path(root, p)
      if (fs.exists(target))
        require(fs.rename(target, trash(root, p)), s"swap: rename $target to trash failed")
      require(fs.rename(staging(root, p), target), s"swap: rename staged $target failed")
      fs.delete(trash(root, p), true)
    }
  }

  /** [[install]] the archive's `days` between the drain marker's
    * announcement (a reader listing mid-swap reports a torn epoch and the
    * broker retries its wave) and the commit `bump`, which flags `flagged`
    * as rewritten for members' local caches.
    */
  def installDays(fs: FileSystem, root: Path, conf: Configuration,
      days: Seq[String], flagged: Seq[String]): Unit = {
    DrainMarker.beginRewrite(root.toString, conf, days)
    install(fs, root, days.map(d => s"${Archiver.DayCol}=$d"))
    DrainMarker.bump(root.toString, conf, flagged)
  }
}
