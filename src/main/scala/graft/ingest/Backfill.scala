package graft.ingest

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Backfill: merging late / out-of-order fact records into an existing
  * day-partitioned archive, rewriting ONLY the affected day partitions
  * (/root/reference/memstore/backfill.go:30-108: late records older than
  * the archiving cutoff buffer up and merge asynchronously into their
  * archive batches; each affected batch is patched in place).
  *
  * Scale shape: the late batch is tiny relative to the archive. The job
  * computes the distinct affected days from the batch (one small
  * aggregation), reads only those partitions, applies PK-overwrite upsert
  * per day, and overwrites just those partition directories — a 100 TB
  * archive with one late day touches 1/retention of the data.
  */
object Backfill {

  /** Merge `late` (same schema as the archive rows, TimestampType
    * `timeCol`) into the day-partitioned archive at `dir`. Late rows win
    * over archived rows with the same PK (they are the corrections).
    * Returns the affected day partition values.
    *
    * ONE distributed job over all affected days: the affected partitions
    * are read with partition pruning, merged with the late batch via a
    * (day, pk)-keyed dedup (late wins), range-partitioned over
    * (day, sortCols) into `numFiles` shuffle partitions (default: the
    * session's shuffle parallelism, floored at one per day) and written
    * sorted — so a TB-scale day rewrites as N parallel sorted files, not
    * one single-task file, while untouched partitions stay byte-stable.
    * The reference shards exactly this merge across workers
    * (memstore/backfill.go:436+).
    *
    * `exclusive` runs the day-directory swap ([[PartitionSwap.installDays]]),
    * the only step in which a reader of `dir` can see a day missing or a
    * listed file gone; a caller that serves queries from `dir` passes its
    * reader exclusion.
    *
    * The whole read-merge-swap holds the archive write lock (two
    * concurrent merges would each miss the other's delta, the last swap
    * winning): a FRESH holder raises [[graft.exec.GenerationLock.Busy]]
    * (the drain tick catches it and skips), and a crashed holder's swap
    * is rolled back before this merge reads the archive.
    */
  def apply(spark: SparkSession, dir: String, late: DataFrame, timeCol: String,
      pk: Seq[String], sortCols: Seq[String], numFiles: Int = 0,
      exclusive: (=> Unit) => Unit = swap => swap): Seq[String] =
    PartitionSwap.withArchiveLock(dir, spark.sparkContext.hadoopConfiguration,
      "backfill") { fs =>
      locked(spark, fs, dir, late, timeCol, pk, sortCols, numFiles, exclusive)
    }

  private def locked(spark: SparkSession, fs: FileSystem, dir: String,
      late: DataFrame, timeCol: String, pk: Seq[String], sortCols: Seq[String],
      numFiles: Int, exclusive: (=> Unit) => Unit): Seq[String] = {
    val day = Archiver.DayCol
    val withDay = late.withColumn(day, Archiver.dayOf(late, timeCol))
    val days = withDay.select(day).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    if (days.isEmpty) return Nil

    // probe through the path's own Hadoop FS, never java.nio (which
    // reports every hdfs/s3a path as absent, turning the merge into a
    // late-rows-only rewrite)
    val root = new Path(dir)
    val existingDays = days.filter(d => fs.exists(new Path(root, s"$day=$d")))

    // archived rows of the affected days only (one partition-pruned read);
    // seq 0 loses to the late batch's seq 1 on a PK hit within the day.
    val archivedOpt = existingDays match {
      case Nil => None
      case ds => Some(spark.read.option("mergeSchema", "true").parquet(dir)
        .where(col(day).isin(ds: _*))
        .withColumn(day, col(day).cast("string")))
    }
    // Schema may have evolved since the days were archived, in EITHER
    // direction: columns the late batch carries but the archive lacks
    // null-fill on the archive side; columns the archive carries but the
    // late batch no longer emits null-fill on the LATE side — a producer
    // that stopped emitting a column must not erase it from every
    // rewritten day. The output schema is the union.
    // (A late batch that already carries a day column gets it recomputed.)
    val archiveOnly = archivedOpt.toSeq.flatMap(a =>
      a.columns.toSeq.filterNot(c => late.columns.contains(c) || c == day)
        .map(c => c -> a.schema(c).dataType))
    val outCols = (late.columns.toSeq.filterNot(_ == day) ++
      archiveOnly.map(_._1) :+ day).map(col)
    val lateFull = archiveOnly.foldLeft(withDay) { case (acc, (c, t)) =>
      acc.withColumn(c, lit(null).cast(t))
    }
    val lateSeq = lateFull.select(outCols: _*).withColumn("__seq", lit(1L))
    val union = archivedOpt match {
      case None => lateSeq
      case Some(archived0) =>
        val present = archived0.columns.toSet
        val archived = late.columns.filterNot(present.contains)
          .foldLeft(archived0) { (acc, c) =>
            acc.withColumn(c, lit(null).cast(late.schema(c).dataType))
          }
        lateSeq.unionByName(archived.select(outCols: _*).withColumn("__seq", lit(0L)))
    }
    val merged = Upsert.dedupBatch(union, day +: pk, "__seq").drop("__seq")

    val parallelism = spark.sessionState.conf.numShufflePartitions
    val n = if (numFiles > 0) numFiles else math.max(days.size, parallelism)
    val rangeCols = (day +: sortCols).map(col)
    // range partitioning on (day, sortCols): partition boundaries respect
    // day order, each writer task emits per-day files whose rows are
    // sorted by the archive sort columns — row-group min/max stats stay as
    // tight as the original Archiver layout
    val conf = spark.sparkContext.hadoopConfiguration
    merged.repartitionByRange(n, rangeCols: _*)
      .sortWithinPartitions(rangeCols: _*)
      .write.partitionBy(day).mode("overwrite")
      .parquet(new Path(root, PartitionSwap.Staging).toString)
    // the bump flags the rewritten days in the drain marker: members
    // serving them from a local cache learn, with one small read per
    // query, that their copies are stale and serve from the shared
    // archive until their sync catches up
    exclusive(PartitionSwap.installDays(fs, root, conf, days, flagged = days))
    days
  }
}

/** Dimension-table snapshot: periodic full overwrite persistence of a
  * small dimension table (/root/reference/memstore/snapshot.go:25-87 —
  * dimension tables snapshot wholesale rather than archive by day).
  */
object Snapshot {

  def write(dim: DataFrame, dir: String): Unit =
    dim.coalesce(1).write.mode("overwrite").parquet(dir)

  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)
}
