package graft.ingest

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Small-file compaction for the day-partitioned archive — the Spark
  * analog of the reference's archiving merge, which folds each batch's
  * patch files back into one sorted archive batch per day
  * (/root/reference/memstore/archiving.go:59-141: archiving merges the
  * live-store batches into the existing sorted batch;
  * backfill_manager.go re-merges patches). In this engine every
  * incremental drain/backfill APPENDS files to a day partition, so a
  * long-lived table accumulates small files — the classic 100 TB lake
  * pathology: file-listing cost grows, scans lose run length, parquet
  * row-group stats (the zone-map skip layer, Tables.EventsSortCols)
  * fragment.
  *
  * `compact` rewrites only the day partitions that exceed `maxFiles`,
  * re-sorting rows by `sortCols` inside the single rewritten file set so
  * the zone-map clustering the Archiver established is RESTORED, not
  * just preserved. Each day rewrites to its staging name and swaps in
  * through [[PartitionSwap]] — a crash mid-compaction leaves either the
  * old complete partition or the new complete partition, never a mix,
  * and the next archive-lock holder rolls a half-done swap back. Days
  * within budget are untouched, so the job's cost is proportional to the
  * fragmented tail (typically the recent backfill days), not the table.
  */
object Compactor {

  final case class DayReport(day: String, filesBefore: Int, filesAfter: Int)

  /** Compact every `day=` partition of `dir` holding more than
    * `maxFiles` parquet files down to `targetFiles` sorted files.
    * Returns a report per REWRITTEN day (untouched ones absent).
    * `exclusive` runs each day's rename pair, the step in which a reader
    * of `dir` can see the day missing; a caller that serves queries from
    * `dir` passes its reader exclusion, as for [[Backfill]].
    */
  def compact(spark: SparkSession, dir: String, sortCols: Seq[String],
      maxFiles: Int = 8, targetFiles: Int = 1,
      zorderCols: Seq[String] = Nil,
      exclusive: (=> Unit) => Unit = swap => swap): Seq[DayReport] = {
    require(maxFiles >= 1, s"maxFiles $maxFiles must be >= 1")
    require(targetFiles >= 1, s"targetFiles $targetFiles must be >= 1")
    require(zorderCols.isEmpty || sortCols.isEmpty,
      "pass either sortCols (linear clustering) or zorderCols (multi-column), not both")
    val root = new Path(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    require(root.getFileSystem(conf).exists(root), s"archive $dir does not exist")
    // the same archive write lock as Backfill: a compaction rewriting a
    // day a concurrent drain is backfilling would race the
    // read-rewrite-swap — if the compacted (pre-delta) version wins, the
    // drain's rows are gone AFTER its journal truncated. A fresh holder
    // raises Busy; the scheduler's per-job catch turns that into a
    // skipped tick
    PartitionSwap.withArchiveLock(dir, conf, "compaction") { fs =>
      compactLocked(spark, root, fs, conf, sortCols, maxFiles, targetFiles,
        zorderCols, exclusive)
    }
  }

  private def compactLocked(spark: SparkSession, root: Path,
      fs: FileSystem, conf: Configuration, sortCols: Seq[String],
      maxFiles: Int, targetFiles: Int, zorderCols: Seq[String],
      exclusive: (=> Unit) => Unit): Seq[DayReport] = {
    val prefix = s"${Archiver.DayCol}="
    val reports = Seq.newBuilder[DayReport]
    // a compaction of a (possibly shared) archive announces each day's
    // swap through the drain marker, exactly like Backfill: the
    // two-rename swap makes a day transiently invisible to a concurrent
    // lister, and a scatter wave straddling it must retry
    // rather than merge a mid-swap listing. The announcement spans only
    // the rename pair, not the day's Spark rewrite before it, so waves
    // read torn for milliseconds, not for the whole compaction. The bump
    // flags no days: compaction preserves rows (members' local caches
    // still hold the same ROWS; SliceSync re-copies on its own file-set
    // staleness check).
    fs.listStatus(root).filter(_.isDirectory)
      .map(_.getPath).filter(_.getName.startsWith(prefix))
      .sortBy(_.getName)
      .foreach { part =>
        val dataFiles = fs.listStatus(part)
          .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
        if (dataFiles.length > maxFiles) {
          val day = part.getName.stripPrefix(prefix)
          // read THIS day's files directly (no partition-column recovery
          // needed — the day value is re-encoded in the directory name on
          // swap), restore the sort clustering, write the target file set
          val dayDf = spark.read.parquet(part.toString)
          val rewritten =
            if (zorderCols.nonEmpty)
              // z-curve clustering: per-file min/max stats bound EVERY
              // zorder column (ranges computed per day — zone maps are
              // per-file, so day-local normalization is exactly right)
              ZOrder.clusterToFiles(dayDf, zorderCols, targetFiles)
            else {
              val rep = dayDf.repartition(targetFiles)
              if (sortCols.nonEmpty)
                rep.sortWithinPartitions(sortCols.map(col): _*)
              else rep
            }
          rewritten.write.mode("overwrite")
            .parquet(PartitionSwap.staging(root, part.getName).toString)
          exclusive(PartitionSwap.installDays(fs, root, conf, Seq(day), flagged = Nil))
          val after = fs.listStatus(part)
            .count(s => s.isFile && s.getPath.getName.startsWith("part-"))
          reports += DayReport(day, dataFiles.length, after)
        }
      }
    reports.result()
  }
}
