package graft.exec

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.SparkSession

import graft.ingest.{Archiver, DrainMarker, PartitionSwap}

/** Pull-down half of the drain→serve loop in slice mode: after any
  * member drains fresh live rows into the SHARED archive, the day's
  * serving owner (by [[SliceRebalance.extendedOwner]] over the published
  * assignment) copies the new or rewritten day partitions into its own
  * local storage — so fresh data becomes queryable without a manual
  * bootstrap or rebalance. The reference closes the same loop by
  * ownership-routing ingestion so a datanode only ever ingests shards it
  * owns (/root/reference/subscriber/common/job/streaming_processor.go:48-71,
  * /root/reference/controller/handlers/assignment.go:57-165); here data
  * flows through the shared archive instead, and ownership is applied on
  * the way DOWN.
  *
  * Staleness detection is by file name + length: parquet part files
  * carry write-unique names, and a [[graft.ingest.Backfill]] rewrite of
  * a day replaces its files wholesale — so "local file set == shared
  * file set" is exactly "local copy is current". Each sync run lists
  * the shared day set once and the files of owned days only; at 100 TB
  * that is O(days) metadata RPCs per tick, no data read unless a day
  * actually changed.
  */
object SliceSync {

  /** Copy every shared-archive day this slice serves (extended
    * ownership; all days when no assignment is published) whose local
    * copy is missing or stale. Returns the days refreshed. Crash-safe:
    * fresh bytes land at the day's staging name and swap in through
    * [[PartitionSwap]], so a killed sync re-runs to completion.
    *
    * An inflight drain marker whose writer's archive lock has gone stale
    * (a writer that crashed inside its swap) is recovered here first: the
    * swap rolls back and the marker clears, so broker queries stop
    * reading a torn archive epoch without an operator. A live writer's
    * fresh lock makes the recovery skip.
    *
    * Syncs of one local dir run one at a time in this process: a
    * post-drain hook and a scheduler tick can both call this, and a
    * second copy of a day would delete the first one's staged bytes
    * mid-copy. The later caller then finds the day current and copies
    * nothing.
    */
  def sync(spark: SparkSession, sharedArchiveDir: String, localDir: String,
      topologyDir: String, slice: String): Seq[String] = {
    val local = new Path(localDir)
    val key = local.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(local).toString
    localLanes.computeIfAbsent(key, _ => new Object).synchronized(
      syncLocked(spark, sharedArchiveDir, localDir, topologyDir, slice))
  }

  /** One monitor per qualified local dir. Each member owns its local dir,
    * so a lock inside the process is enough.
    */
  private val localLanes = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  private def syncLocked(spark: SparkSession, sharedArchiveDir: String,
      localDir: String, topologyDir: String, slice: String): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val shared = new Path(sharedArchiveDir)
    val sharedFs = shared.getFileSystem(conf)
    if (!sharedFs.exists(shared)) return Nil
    val local = new Path(localDir)
    val localFs = local.getFileSystem(conf)
    localFs.mkdirs(local)
    val assignment = SliceRebalance.read(topologyDir)
    // capture the drain-marker seq BEFORE listing: drains that commit
    // during this sync may or may not be copied below, so only the seq
    // observed first is safely "synced through"
    val marker = DrainMarker.read(sharedArchiveDir, conf)
    if (marker.inflight) PartitionSwap.recoverUnlessHeld(sharedArchiveDir, conf)
    val mine = SliceBootstrap.localDays(spark, sharedArchiveDir).filter { d =>
      assignment.forall(a => SliceRebalance.extendedOwner(a, d).contains(slice))
    }
    val synced = Seq.newBuilder[String]
    mine.foreach { day =>
      val part = s"${Archiver.DayCol}=$day"
      if (fileSet(spark, sharedArchiveDir, day) != fileSet(spark, localDir, day)) {
        FileUtil.copy(sharedFs, new Path(shared, part), localFs,
          PartitionSwap.stage(localFs, local, part), false, conf)
        PartitionSwap.install(localFs, local, Seq(part))
        synced += day
      }
    }
    // record the synced-through seq: the serving catalog stops routing
    // this member's owned rewritten days to the shared archive
    DrainMarker.writeSynced(localDir, conf, marker.seq)
    synced.result()
  }

  /** (name, length) of every data file in `dir`'s `day` partition — the
    * staleness fingerprint. Missing partition → empty set.
    */
  private[exec] def fileSet(spark: SparkSession, dir: String,
      day: String): Set[(String, Long)] = {
    val part = new Path(dir, s"${Archiver.DayCol}=$day")
    val fs = part.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(part)) Set.empty
    else fs.listStatus(part).filter(_.isFile)
      .filterNot(s => s.getPath.getName.startsWith(".") ||
        s.getPath.getName.startsWith("_"))
      .map(s => (s.getPath.getName, s.getLen)).toSet
  }
}
