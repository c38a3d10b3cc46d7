package graft.ingest

import scala.jdk.CollectionConverters._

import graft.SparkSpec

class CompactorSpec extends SparkSpec {

  private def listDataFiles(dir: String, day: String): Seq[String] = {
    val p = java.nio.file.Paths.get(dir, s"${Archiver.DayCol}=$day")
    if (!java.nio.file.Files.exists(p)) return Nil
    val s = java.nio.file.Files.list(p)
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("part-")).toSeq
    finally s.close()
  }

  test("compact folds fragmented day partitions to sorted target files, " +
      "rows identical, in-budget days untouched") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("compact").toString
    // day A: 10 small files (fragmented); day B: 2 files (in budget)
    val dayA = (1 to 500).map(i =>
      ("2024-02-01", i.toLong, s"t${i % 7}", i % 50))
    val dayB = (1 to 100).map(i =>
      ("2024-02-02", (1000 + i).toLong, s"t${i % 7}", i % 50))
    def write(rows: Seq[(String, Long, String, Int)], files: Int): Unit =
      rows.toDF(Archiver.DayCol, "event_id", "event_type", "value")
        .repartition(files)
        .write.partitionBy(Archiver.DayCol).mode("append").parquet(dir)
    write(dayA, 10)
    write(dayB, 2)
    assert(listDataFiles(dir, "2024-02-01").length == 10)
    assert(listDataFiles(dir, "2024-02-02").length == 2)
    val before = spark.read.parquet(dir).collect()
      .map(_.toSeq).sortBy(_.toString)

    val reports = Compactor.compact(spark, dir,
      sortCols = Seq("event_type", "event_id"), maxFiles = 4, targetFiles = 2)

    assert(reports.map(r => (r.day, r.filesBefore, r.filesAfter)) ==
      Seq(("2024-02-01", 10, 2)), reports.toString)
    assert(listDataFiles(dir, "2024-02-01").length == 2)
    assert(listDataFiles(dir, "2024-02-02").length == 2, "in-budget day rewritten")
    // rows byte-identical (same multiset, day column re-derived from the
    // directory name)
    val after = spark.read.parquet(dir).collect()
      .map(_.toSeq).sortBy(_.toString)
    assert(after.toSeq == before.toSeq)
    // zone-map clustering restored: every rewritten file is sorted by the
    // sort columns
    listDataFiles(dir, "2024-02-01").foreach { f =>
      val rows = spark.read.parquet(s"$dir/${Archiver.DayCol}=2024-02-01/$f")
        .select("event_type", "event_id").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(rows == rows.sorted, s"file $f lost its sort clustering")
    }
    // no hidden staging/trash leftovers
    val leftovers = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    try assert(!leftovers.iterator().asScala.exists(f =>
      Seq(PartitionSwap.Staging, PartitionSwap.Trash)
        .exists(f.getFileName.toString.startsWith)), "temp dirs leaked")
    finally leftovers.close()
    // idempotent: a second run finds nothing over budget
    assert(Compactor.compact(spark, dir,
      Seq("event_type", "event_id"), maxFiles = 4, targetFiles = 2).isEmpty)
  }

  test("a stale temp dir from a crashed run is cleared and re-compacted") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("compact2").toString
    (1 to 200).map(i => ("2024-03-05", i.toLong, s"t${i % 3}", i))
      .toDF(Archiver.DayCol, "event_id", "event_type", "value")
      .repartition(9)
      .write.partitionBy(Archiver.DayCol).mode("append").parquet(dir)
    // simulate a crash: stale half-written temp dir present
    val stale = java.nio.file.Paths.get(dir, PartitionSwap.Staging, s"${Archiver.DayCol}=2024-03-05")
    java.nio.file.Files.createDirectories(stale)
    java.nio.file.Files.writeString(stale.resolve("part-junk.parquet"), "junk")
    val before = spark.read.parquet(dir).count()
    val reports = Compactor.compact(spark, dir, Seq("event_id"), maxFiles = 4)
    assert(reports.map(_.day) == Seq("2024-03-05"))
    assert(spark.read.parquet(dir).count() == before)
  }

  test("a compaction after a crash between the two renames gives the full row count back") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("compact3").toString
    (1 to 200).map(i => (if (i % 2 == 0) "2024-03-05" else "2024-03-06", i.toLong, s"t${i % 3}", i))
      .toDF(Archiver.DayCol, "event_id", "event_type", "value")
      .repartition(9)
      .write.partitionBy(Archiver.DayCol).mode("append").parquet(dir)
    assert(spark.read.parquet(dir).count() == 200)
    // the crashed run: day 2024-03-05 renamed to trash, its compacted
    // replacement still staged (half written)
    val day = s"${Archiver.DayCol}=2024-03-05"
    val trash = java.nio.file.Paths.get(dir, PartitionSwap.Trash, day)
    java.nio.file.Files.createDirectories(trash.getParent)
    java.nio.file.Files.move(java.nio.file.Paths.get(dir, day), trash)
    val staged = java.nio.file.Paths.get(dir, PartitionSwap.Staging, day)
    java.nio.file.Files.createDirectories(staged)
    java.nio.file.Files.writeString(staged.resolve("part-junk.parquet"), "junk")
    Compactor.compact(spark, dir, Seq("event_id"), maxFiles = 4)
    assert(spark.read.parquet(dir).count() == 200,
      "the crashed swap must roll back before the compaction lists the archive")
  }
}
