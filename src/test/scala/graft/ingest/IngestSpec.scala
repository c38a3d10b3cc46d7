package graft.ingest

import java.nio.file.{Files, Paths}

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class UpsertSpec extends SparkSpec {
  import spark.implicits._

  test("PK hit overwrites, miss appends, later in-batch record wins") {
    val existing = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "k", "v")
    val batch = Seq(
      (2L, "b2", 21.0, 1L), // overwrite id=2
      (2L, "b3", 22.0, 2L), // ...but this later record wins
      (4L, "d", 40.0, 1L)   // append id=4
    ).toDF("id", "k", "v", "seq")

    val result = Upsert(existing, batch, Seq("id"), "seq")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(result == Map(
      1L -> ("a", 10.0),
      2L -> ("b3", 22.0),
      3L -> ("c", 30.0),
      4L -> ("d", 40.0)))
  }

  test("upsert is idempotent: re-applying the same batch changes nothing") {
    val existing = Tables.events(spark, sfDir).limit(500)
    val batch = existing.withColumn("value", col("value") + 1)
      .withColumn("seq", lit(1L))
    val once = Upsert(existing, batch, Seq("event_id"), "seq")
    val twice = Upsert(once, batch, Seq("event_id"), "seq")
    assert(once.exceptAll(twice).isEmpty && twice.exceptAll(once).isEmpty)
  }
}

class ArchiverSpec extends SparkSpec {

  private def withTempDir(f: String => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_archive").toString
    try f(dir)
    finally Archiver.purge(spark, dir, "9999-99-99") // drop all partitions
  }

  test("archive writes one partition per UTC day, sorted by sort columns") {
    withTempDir { dir =>
      val ev = Tables.events(spark, sfDir)
      Archiver.archive(ev, "ts", Seq("event_type", "user_id"), dir)
      val days = Files.list(Paths.get(dir)).toArray.map(_.toString)
        .filter(_.contains("day=")).sorted
      assert(days.length == 30, s"expected 30 UTC days, got ${days.length}")
      // within-file sort: event_type runs are contiguous per input split
      val firstDay = spark.read.parquet(s"$dir/day=2024-01-01")
      val types = firstDay.select("event_type").collect().map(_.getString(0))
      val runs = types.zip(types.tail).count { case (a, b) => a != b }
      assert(runs <= 10, s"expected few sorted runs, got $runs transitions")
    }
  }

  test("scan prunes partitions: physical plan shows a day-partition filter") {
    withTempDir { dir =>
      val ev = Tables.events(spark, sfDir)
      Archiver.archive(ev, "ts", Seq("event_type"), dir)
      // 2024-01-05 .. 2024-01-07
      val scanned = Archiver.scan(spark, dir, "ts", 1704412800L, 1704672000L)
      val plan = scanned.queryExecution.executedPlan.toString

      assert(plan.contains("PartitionFilters") &&
        plan.contains("day"), s"no partition filter in plan:\n$plan")
      // partition count actually read: 3 days of 30
      val scanNode = scanned.queryExecution.executedPlan.collectLeaves()
        .map(_.toString).mkString("\n")
      val expected = ev.where(
        col("ts") >= timestamp_seconds(lit(1704412800L)) &&
          col("ts") < timestamp_seconds(lit(1704672000L))).count()
      assert(scanned.count() == expected)
      assert(expected > 0)
    }
  }

  test("scan over an integral epoch-seconds archive compares raw integers") {
    // archive() documents integral epoch-seconds time columns (the
    // reference's native Uint32 representation); scan used to compare the
    // BIGINT column against a TIMESTAMP literal — an AnalysisException on
    // every integral archive. The integer bound also pushes down to the
    // parquet stats unchanged.
    withTempDir { dir =>
      val ev = Tables.events(spark, sfDir)
        .withColumn("epoch", unix_timestamp(col("ts")))
        .drop("ts")
      Archiver.archive(ev, "epoch", Seq("event_type"), dir)
      val scanned = Archiver.scan(spark, dir, "epoch", 1704412800L, 1704672000L)
      val expected = ev.where(
        col("epoch") >= 1704412800L && col("epoch") < 1704672000L).count()
      assert(expected > 0)
      assert(scanned.count() == expected)
    }
  }

  test("purge deletes expired day partitions only") {
    withTempDir { dir =>
      val ev = Tables.events(spark, sfDir)
      Archiver.archive(ev, "ts", Seq("event_type"), dir)
      val deleted = Archiver.purge(spark, dir, "2024-01-25")
      assert(deleted.sorted == (1 to 24).map(d => f"2024-01-$d%02d"))
      val remaining = spark.read.parquet(dir)
      assert(remaining.select(min(col("ts"))).head().getTimestamp(0)
        .toInstant.toString.startsWith("2024-01-25"))
    }
  }
}
