package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ingest.Backfill

/** Streaming ingestion with the reference's late-data routing
  * (/root/reference/memstore/backfill_manager.go; model.go:94-113):
  * records newer than the archiving cutoff (now − archivingDelay) land in
  * the live store; older-but-within-retention records go through the
  * backfill path into their day partitions; records past retention drop.
  *
  * Expressed as `foreachBatch`: each micro-batch splits once on the
  * event-time column — the route filters ARE the lateness handling (a
  * watermark would be inert here: there is no stateful operator between
  * source and sink to bound). The
  * live store is append-only parquet that the archiving job
  * ([[graft.ingest.Archiver]]) periodically folds into the day-partitioned
  * archive, mirroring the reference's live→archive promotion.
  */
object StreamArchiver {

  final case class Route(
      timeCol: String,
      pk: Seq[String],
      sortCols: Seq[String],
      liveDir: String,
      archiveDir: String,
      archivingDelaySeconds: Long,
      retentionDays: Int)

  /** Route one (micro-)batch. `nowEpoch` is injectable for tests.
    *
    * The batch is cached and both route counts come from ONE aggregation
    * job (a chain of `isEmpty` probes would re-run the batch's lineage up
    * to three times per trigger — at high trigger rates the probes would
    * dominate); the filtered writes then read from the cached blocks.
    *
    * Idempotent per `batchId`: fresh rows OVERWRITE `liveDir/batch=<id>`,
    * so a micro-batch replayed after a mid-batch crash (live write committed,
    * backfill or checkpoint commit didn't) rewrites its own directory
    * instead of appending every fresh row a second time. The backfill leg
    * is idempotent by construction (PK-keyed overwrite merge). Read the
    * live store through [[readLive]], which drops the layout's batch
    * partition column.
    */
  def routeBatch(spark: SparkSession, batch: DataFrame, route: Route,
      nowEpoch: Long, batchId: Long = 0L): Unit = {
    val t = col(route.timeCol)
    val cutoff = timestamp_seconds(lit(nowEpoch - route.archivingDelaySeconds))
    val retentionFloor = timestamp_seconds(
      lit(nowEpoch - route.retentionDays.toLong * 86400))
    val isFresh = t >= cutoff
    val isLate = t < cutoff && t >= retentionFloor

    val cached = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val counts = cached.agg(
        count(when(isFresh, 1)).as("fresh"),
        count(when(isLate, 1)).as("late"),
        count(when(t.isNull, 1)).as("null_ts")).collect()(0)
      if (counts.getLong(0) > 0)
        cached.where(isFresh).write.mode("overwrite")
          .parquet(s"${route.liveDir}/batch=$batchId")
      if (counts.getLong(1) > 0)
        Backfill(spark, route.archiveDir, cached.where(isLate),
          route.timeCol, route.pk, route.sortCols)
      // rows older than retention fall through — dropped, as in the
      // reference; a NULL event time matches neither route and is dropped
      // too, but LOUDLY — silent data loss is invisible to operators
      if (counts.getLong(2) > 0)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"StreamArchiver: dropped ${counts.getLong(2)} row(s) with null " +
            s"${route.timeCol} (no route for a null event time)")
    } finally cached.unpersist(false)
  }

  /** The live store, batch partition column dropped (layout detail). */
  def readLive(spark: SparkSession, liveDir: String): DataFrame =
    spark.read.parquet(liveDir).drop("batch")

  /** @param checkpointDir Structured Streaming checkpoint location —
    *   REQUIRED for restart-safe ingestion: without it batch ids reset on
    *   restart and a replayed id OVERWRITES a different prior batch's
    *   `batch=<id>` directory (data loss), instead of harmlessly
    *   rewriting its own. Optional only for throwaway tests.
    */
  def start(source: DataFrame, route: Route,
      checkpointDir: Option[String] = None): StreamingQuery = {
    val w = source.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        routeBatch(batch.sparkSession, batch, route,
          System.currentTimeMillis() / 1000, batchId)
      }
      .outputMode("append")
    checkpointDir.foreach(d => w.option("checkpointLocation", d))
    w.start()
  }
}
