package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Archive lifecycle: day-partitioned sorted parquet + retention purge.
  *
  * The reference archives fact rows older than the archiving cutoff into
  * one sorted, compressed archive batch per UTC day
  * (/root/reference/memstore/archiving.go:59-141; batch ID = UTC day
  * index, aql_compiler.go:1047-1056), sorted by the table's
  * `archivingSortColumns` so equality prefilters become index ranges
  * (aql_compiler.go:604-766). The Spark-native equivalent:
  *
  *  - `archive` writes `day=YYYY-MM-DD/` hive partitions,
  *    `sortWithinPartitions(sortCols)` so parquet row-group min/max stats
  *    make sort-column predicates skip row groups (the prefilter
  *    equivalent, for free at scan time)
  *  - `scan` applies the epoch time filter on BOTH the partition column
  *    (static partition pruning — the day-range scan) and the raw
  *    timestamp (row-level bounds)
  *  - `purge` deletes expired day partitions (memstore/purge.go)
  *
  * At 100 TB this layout is the difference between full scans and reading
  * only the filtered days — the reference's single most important scan
  * optimization, reproduced with Catalyst partition pruning.
  */
object Archiver {

  val DayCol = "day"

  /** The UTC day (yyyy-MM-dd) of `df`'s `timeCol` — a TimestampType
    * column, or an integral epoch-seconds column (the reference's native
    * Uint32 time column representation, metastore/common/model.go:136).
    * This is the value of the archive's [[DayCol]] partition column.
    */
  def dayOf(df: DataFrame, timeCol: String): Column = {
    val ts =
      if (df.schema(timeCol).dataType == org.apache.spark.sql.types.TimestampType)
        col(timeCol)
      else timestamp_seconds(col(timeCol))
    date_format(ts, "yyyy-MM-dd")
  }

  /** Write `df` as day-partitioned parquet under `outDir`, one partition
    * per UTC day of `timeCol` (see [[dayOf]]), rows sorted by `sortCols`
    * within each file.
    */
  /** @param bloomFilterCols columns to write parquet BLOOM FILTERS for —
    *   the point-lookup complement of the sort-column zone maps: min/max
    *   stats skip row groups for RANGE predicates on the sort prefix,
    *   blooms skip them for EQUALITY probes on high-cardinality columns
    *   the sort does NOT cluster (user/UUID lookups on a time-sorted
    *   archive touch every row group's stats range; the bloom answers
    *   "definitely not here" per row group without decoding a page). At
    *   100 TB this is the difference between a needle query reading one
    *   row group and reading a day. Costs ~`bloomNdv` bits per row group
    *   per column — enable for columns that are actually probed.
    * @param bloomNdv expected distinct values per row group for sizing
    */
  def archive(df: DataFrame, timeCol: String, sortCols: Seq[String],
      outDir: String, bloomFilterCols: Seq[String] = Nil,
      bloomNdv: Long = 100000L): Unit = {
    // the day column leads the sort: the dynamic-partition writer requires
    // rows clustered by partition value and would otherwise inject its own
    // sort on `day`, destroying the sort-column order inside each file
    val writer = df.withColumn(DayCol, dayOf(df, timeCol))
      .repartition(col(DayCol))
      .sortWithinPartitions((DayCol +: sortCols).map(col): _*)
      .write
    bloomFilterCols.foreach { c =>
      writer.option(s"parquet.bloom.filter.enabled#$c", "true")
      writer.option(s"parquet.bloom.filter.expected.ndv#$c", bloomNdv.toString)
    }
    writer
      .partitionBy(DayCol)
      .mode("overwrite")
      .parquet(outDir)
  }

  /** Read the archive with day-partition pruning + row-level time bounds
    * for `[fromEpoch, toEpoch)`. The row-level bound mirrors [[archive]]'s
    * type branch: an integral epoch-seconds archive compares raw integers
    * (a TIMESTAMP literal against a BIGINT column fails analysis — Spark
    * has no numeric↔datetime coercion — and integer bounds push down to
    * the parquet stats unchanged).
    */
  def scan(spark: SparkSession, dir: String, timeCol: String,
      fromEpoch: Long, toEpoch: Long): DataFrame = {
    val df = spark.read.parquet(dir)
    val rowBound =
      if (df.schema(timeCol).dataType == org.apache.spark.sql.types.TimestampType)
        col(timeCol) >= timestamp_seconds(lit(fromEpoch)) &&
          col(timeCol) < timestamp_seconds(lit(toEpoch))
      else col(timeCol) >= lit(fromEpoch) && col(timeCol) < lit(toEpoch)
    df.where(col(DayCol) >= date_format(timestamp_seconds(lit(fromEpoch)), "yyyy-MM-dd") &&
        col(DayCol) <= date_format(timestamp_seconds(lit(toEpoch - 1)), "yyyy-MM-dd"))
      .where(rowBound)
  }

  /** Delete day partitions strictly older than `retainFromDay`
    * (yyyy-MM-dd). Returns the deleted partition names. Goes through the
    * path's own Hadoop filesystem, so an hdfs/s3a archive purges the same
    * way a local one does.
    *
    * Holds the archive write lock like Backfill/Compactor: a purge
    * deleting a day a concurrent backfill is mid-swap on would either
    * resurrect the purged rows (the swap recreates the day from its
    * pre-purge read) or fail the swap. Busy → the scheduler skips the tick.
    */
  def purge(spark: SparkSession, dir: String, retainFromDay: String): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(dir)
    if (!root.getFileSystem(conf).exists(root)) return Nil
    PartitionSwap.withArchiveLock(dir, conf, "purge") { fs =>
      fs.listStatus(root).map(_.getPath).filter(_.getName.startsWith(s"$DayCol="))
        .filter(_.getName.stripPrefix(s"$DayCol=") < retainFromDay)
        .map { p => fs.delete(p, true); p.getName.stripPrefix(s"$DayCol=") }
        .sorted.toSeq
    }
  }
}
