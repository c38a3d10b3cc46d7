package graft.ingest

import java.nio.file.{Files, Paths}

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class BackfillSpec extends SparkSpec {

  private def withTempDir(f: String => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_backfill").toString
    try f(dir)
    finally Archiver.purge(spark, dir, "9999-99-99")
  }

  test("late records rewrite only their day partitions, with PK overwrite") {
    withTempDir { dir =>
      val ev = Tables.events(spark, sfDir)
        .select("event_id", "ts", "user_id", "event_type", "value")
      Archiver.archive(ev, "ts", Seq("event_type"), dir)

      // late batch: corrections for 2024-01-05 (existing PKs, new value)
      // plus brand-new rows for 2024-01-06
      val day5 = ev.where(date_format(col("ts"), "yyyy-MM-dd") === "2024-01-05")
      val corrections = day5.limit(20).withColumn("value", lit(-1.0))
      val newRows = ev.where(date_format(col("ts"), "yyyy-MM-dd") === "2024-01-06")
        .limit(10).withColumn("event_id", col("event_id") + 1000000)
      val late = corrections.unionByName(newRows)

      val untouched = s"$dir/day=2024-01-10"
      val mtimeBefore = Files.list(Paths.get(untouched)).toArray
        .map(p => Files.getLastModifiedTime(p.asInstanceOf[java.nio.file.Path]).toMillis).sorted.toSeq

      val affected = Backfill(spark, dir, late, "ts",
        Seq("event_id"), Seq("event_type"))
      assert(affected == Seq("2024-01-05", "2024-01-06"))

      // untouched partition: bytes not rewritten
      val mtimeAfter = Files.list(Paths.get(untouched)).toArray
        .map(p => Files.getLastModifiedTime(p.asInstanceOf[java.nio.file.Path]).toMillis).sorted.toSeq
      assert(mtimeBefore == mtimeAfter)

      // corrections applied: all 20 rows carry the new value
      val got5 = spark.read.parquet(s"$dir/day=2024-01-05")
      assert(got5.where(col("value") === -1.0).count() == 20)
      assert(got5.count() == day5.count()) // overwrite, not append

      // new rows appended to their day
      val got6 = spark.read.parquet(s"$dir/day=2024-01-06")
      val expected6 = ev.where(date_format(col("ts"), "yyyy-MM-dd") === "2024-01-06").count() + 10
      assert(got6.count() == expected6)

      // whole-archive row count consistent
      val total = spark.read.parquet(dir).count()
      assert(total == ev.count() + 10)
    }
  }

  test("rewritten day shards into multiple sorted files (no single-task rewrite)") {
    withTempDir { dir =>
      import spark.implicits._
      // synthetic 2-day fixture, big enough to shard: sort col = v
      val rows = (0 until 20000).map { i =>
        (i.toLong, java.sql.Timestamp.valueOf(s"2024-03-0${1 + i % 2} 12:00:00"),
          (i * 7919) % 100000)
      }.toDF("id", "ts", "v")
      Archiver.archive(rows, "ts", Seq("v"), dir)

      val late = Seq((1000000L,
        java.sql.Timestamp.valueOf("2024-03-01 13:00:00"), 42))
        .toDF("id", "ts", "v")
      val affected = Backfill(spark, dir, late, "ts", Seq("id"), Seq("v"),
        numFiles = 8)
      assert(affected == Seq("2024-03-01"))

      // the rewritten day is MULTIPLE parquet files (parallel writers) ...
      val files = Files.list(Paths.get(s"$dir/day=2024-03-01")).toArray
        .map(_.toString).filter(_.endsWith(".parquet")).sorted.toSeq
      assert(files.size >= 2, s"expected sharded rewrite, got $files")

      // ... each internally sorted by the sort column (tight row-group
      // stats, zone-map-equivalent skipping preserved), and files are
      // range-partitioned (non-overlapping v ranges across files)
      val perFile = files.map { f =>
        val vs = spark.read.parquet(f).select("v").collect().map(_.getInt(0)).toSeq
        assert(vs == vs.sorted, s"file $f not sorted by v")
        (vs.min, vs.max)
      }
      perFile.sortBy(_._1).sliding(2).foreach {
        case Seq((_, hi), (lo, _)) => assert(hi <= lo, "file ranges overlap")
        case _ =>
      }

      // merge semantics intact: 10000 original day-1 rows + 1 appended
      assert(spark.read.parquet(s"$dir/day=2024-03-01").count() == 10001)
      // untouched day byte-stable
      assert(spark.read.parquet(s"$dir/day=2024-03-02").count() == 10000)
    }
  }

  test("archive-only columns survive a backfill (two-way schema reconcile)") {
    // a producer that STOPPED emitting a column must not erase it from
    // every rewritten day — the archive-has-more direction of schema
    // evolution, the mirror of the late-has-more null-fill
    withTempDir { dir =>
      val ev = Tables.events(spark, sfDir)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("extra", col("event_id") * 2)
      Archiver.archive(ev, "ts", Seq("event_type"), dir)
      val day5 = ev.where(date_format(col("ts"), "yyyy-MM-dd") === "2024-01-05")
      // the late batch no longer carries `extra`
      val late = day5.limit(5).withColumn("value", lit(-9.0)).drop("extra")
      val affected = Backfill(spark, dir, late, "ts",
        Seq("event_id"), Seq("event_type"))
      assert(affected == Seq("2024-01-05"))
      val got = spark.read.parquet(s"$dir/day=2024-01-05")
      assert(got.columns.contains("extra"),
        s"archive-only column dropped: ${got.columns.mkString(",")}")
      // untouched rows keep their values; the 5 corrected rows null-fill
      assert(got.where(col("extra").isNull).count() == 5)
      assert(got.where(col("extra") === col("event_id") * 2).count() ==
        day5.count() - 5)
    }
  }

  test("a crashed swap loses no data: the trash dir still holds the old partition") {
    // delete-then-move had a window where the day's archived rows existed
    // NOWHERE; the trash protocol never does. Simulate the crash point
    // between the two renames: old partition in trash, staging holding the
    // new one — every archived byte is still on disk in one of the two.
    withTempDir { dir =>
      val ev = Tables.events(spark, sfDir)
        .select("event_id", "ts", "user_id", "event_type", "value")
      Archiver.archive(ev, "ts", Seq("event_type"), dir)
      val day5count = spark.read.parquet(s"$dir/day=2024-01-05").count()
      // stage the crash state by hand (the protocol's mid-point)
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val target = new org.apache.hadoop.fs.Path(dir, "day=2024-01-05")
      val trash = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(dir, PartitionSwap.Trash), target.getName)
      assert(fs.mkdirs(trash.getParent) && fs.rename(target, trash))
      // the old partition comes back whole from trash (the next archive
      // writer's automatic rollback does this rename; see the next case)
      assert(fs.rename(trash, target))
      assert(spark.read.parquet(s"$dir/day=2024-01-05").count() == day5count)
      // and a successful run leaves neither trash nor staging behind
      val late = ev.where(date_format(col("ts"), "yyyy-MM-dd") === "2024-01-05")
        .limit(3).withColumn("value", lit(-1.0))
      Backfill(spark, dir, late, "ts", Seq("event_id"), Seq("event_type"))
      val residue = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .map(_.getPath.getName)
        .filter(n => Seq(PartitionSwap.Staging, PartitionSwap.Trash).exists(n.startsWith))
      assert(residue.isEmpty, s"swap residue left behind: ${residue.mkString(",")}")
    }
  }

  test("a backfill retried after a crash between the two renames keeps every archived row") {
    // the crashed writer left its day in trash, a half-written staged
    // copy and an inflight marker; its journal was never truncated, so
    // the drain retries the same corrections. The retry's lock takes the
    // swap back first — merging against the missing day instead would
    // rewrite it as the late rows alone
    withTempDir { dir =>
      val conf = spark.sparkContext.hadoopConfiguration
      val ev = Tables.events(spark, sfDir)
        .select("event_id", "ts", "user_id", "event_type", "value")
      Archiver.archive(ev, "ts", Seq("event_type"), dir)
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(conf)
      val day5count = spark.read.parquet(s"$dir/day=2024-01-05").count()
      DrainMarker.beginRewrite(dir, conf, Seq("2024-01-05"))
      val target = new org.apache.hadoop.fs.Path(root, "day=2024-01-05")
      val trash = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(root, PartitionSwap.Trash), target.getName)
      assert(fs.mkdirs(trash.getParent) && fs.rename(target, trash))
      val staged = Files.createDirectories(Paths.get(dir, PartitionSwap.Staging, target.getName))
      Files.writeString(staged.resolve("part-junk.parquet"), "junk")

      val late = ev.where(date_format(col("ts"), "yyyy-MM-dd") === "2024-01-05")
        .limit(3).withColumn("value", lit(-1.0))
      assert(Backfill(spark, dir, late, "ts", Seq("event_id"), Seq("event_type")) ==
        Seq("2024-01-05"))
      val got = spark.read.parquet(s"$dir/day=2024-01-05")
      assert(got.count() == day5count,
        s"the retried day must keep all $day5count archived rows, got ${got.count()}")
      assert(got.where(col("value") === -1.0).count() == 3)
      assert(!DrainMarker.read(dir, conf).inflight)
      assert(spark.read.parquet(dir).count() == ev.count())
    }
  }

  test("snapshot overwrites the dimension table wholesale") {
    withTempDir { dir =>
      val snapDir = s"$dir/nation_snapshot"
      val nation = Tables.nation(spark, sfDir)
      Snapshot.write(nation, snapDir)
      assert(Snapshot.read(spark, snapDir).count() == nation.count())

      val mutated = nation.withColumn("n_name", upper(col("n_name")))
      Snapshot.write(mutated, snapDir)
      val back = Snapshot.read(spark, snapDir)
      assert(back.count() == nation.count())
      assert(back.where(col("n_name") =!= upper(col("n_name"))).count() == 0)
    }
  }
}
