package graft.streaming

import java.nio.file.Files

import graft.{SparkSpec, Tables}
import graft.ingest.Archiver
import org.apache.spark.sql.functions._

/** Late-data routing: fresh → live store, late-within-retention →
  * backfilled day partitions, past-retention → dropped.
  */
class StreamArchiverSpec extends SparkSpec {

  test("a batch splits into live append, backfill patch, and retention drop") {
    val root = Files.createTempDirectory("graft_stream_archive")
    val liveDir = root.resolve("live").toString
    val archiveDir = root.resolve("archive").toString
    try {
      // archive holds days 2024-01-01..30
      val ev = Tables.events(spark, sfDir)
        .select("event_id", "ts", "user_id", "event_type", "value")
      Archiver.archive(ev, "ts", Seq("event_type"), archiveDir)
      val archivedBefore = spark.read.parquet(archiveDir).count()

      val now = 1706659200L // 2024-01-31T00:00Z
      val route = StreamArchiver.Route(
        timeCol = "ts", pk = Seq("event_id"), sortCols = Seq("event_type"),
        liveDir = liveDir, archiveDir = archiveDir,
        archivingDelaySeconds = 86400, retentionDays = 20)

      import spark.implicits._
      val batch = Seq(
        // fresh: within the last day
        (9000001L, now - 3600, 1L, "click", 1.0),
        (9000002L, now - 7200, 2L, "view", 2.0),
        // late but within retention: patches day 2024-01-20
        (9000003L, now - 11L * 86400, 3L, "click", 3.0),
        // past retention (40 days old): dropped
        (9000004L, now - 40L * 86400, 4L, "view", 4.0)
      ).toDF("event_id", "epoch", "user_id", "event_type", "value")
        .select(col("event_id"), timestamp_seconds(col("epoch")).as("ts"),
          col("user_id"), col("event_type"), col("value"))

      StreamArchiver.routeBatch(spark, batch, route, now, batchId = 7L)

      val live = StreamArchiver.readLive(spark, liveDir)
      assert(live.count() == 2)
      assert(live.select(min("ts")).head().getTimestamp(0).toInstant.getEpochSecond
        >= now - 86400)

      val archived = spark.read.parquet(archiveDir)
      assert(archived.count() == archivedBefore + 1) // only the late row
      assert(archived.where(col("event_id") === 9000003L).count() == 1)
      assert(archived.where(col("event_id") === 9000004L).count() == 0)
      assert(live.where(col("event_id") === 9000004L).count() == 0)

      // mid-batch-crash replay: the SAME batch id re-routes (the live
      // write committed but the checkpoint didn't) — the batch=<id>
      // overwrite makes it a no-op, where the old append doubled every
      // fresh row; the backfill leg is a PK-keyed merge, also unchanged
      StreamArchiver.routeBatch(spark, batch, route, now, batchId = 7L)
      assert(StreamArchiver.readLive(spark, liveDir).count() == 2,
        "a replayed micro-batch must not duplicate fresh rows")
      assert(spark.read.parquet(archiveDir).count() == archivedBefore + 1)
      // a DIFFERENT batch id appends alongside, untouched by the replay
      StreamArchiver.routeBatch(spark, batch.where(col("event_id") === 9000001L)
        .withColumn("event_id", col("event_id") + 10), route, now, batchId = 8L)
      assert(StreamArchiver.readLive(spark, liveDir).count() == 3)
    } finally {
      Archiver.purge(spark, archiveDir, "9999-99-99")
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => if (Files.exists(p)) Files.delete(p))
      finally walk.close()
    }
  }
}
