package graft.queries

import graft.{SparkSpec, Tables}
import graft.operators.Sessions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._

/** The user-keyed gates (sessionize / funnel / cohort) read the
  * user_id-bucketed events layout (Tables.eventsByUser) as their DEFAULT
  * input. These tests pin the point of that layout: the fact table is
  * never re-shuffled at query time — the only exchanges left in any gate
  * carry post-aggregation rows (a %8 rollup, a global funnel total, a
  * partial-count cohort re-key), never event-grain data.
  *
  * Counting is AQE-aware: adaptive execution hides ShuffleExchangeExec
  * inside QueryStageExec wrappers whose `children` is Nil, so a naive
  * children-walk under-counts (passes vacuously). We recurse into stage
  * plans and reused exchanges explicitly.
  */
class BucketedGatesSpec extends SparkSpec {

  private def executed(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  private def countShuffles(p: SparkPlan): Int = {
    val self = p match {
      case _: ShuffleExchangeExec => 1
      case _ => 0
    }
    val nested: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case _ => Seq.empty
    }
    self + (p.children ++ nested).map(countShuffles).sum
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = {
    val nested: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case _ => Seq.empty
    }
    (p match {
      case f: FileSourceScanExec => Seq(f)
      case _ => Seq.empty
    }) ++ (p.children ++ nested).flatMap(scans)
  }

  private lazy val ev = Tables.eventsByUser(spark, sfDir)

  test("eventsByUser scan is a bucketed scan") {
    val plan = executed(ev.groupBy("user_id").agg(count(lit(1))))
    val s = scans(plan)
    assert(s.nonEmpty && s.forall(_.bucketedScan), plan.toString)
  }

  test("sessionize + per-session counts run with zero shuffles") {
    val df = Sessions.sessionize(ev, "user_id", "ts", "event_id", 21600L)
      .groupBy("user_id", "session_idx").agg(count(lit(1)).as("n"))
    val plan = executed(df)
    assert(countShuffles(plan) == 0, plan.toString)
  }

  test("funnel per-user reach frame runs with zero shuffles") {
    val df = Sessions.funnel(ev, "user_id", "ts", "event_id", "event_type",
      Seq("view", "click", "purchase"))
    val plan = executed(df)
    assert(countShuffles(plan) == 0, plan.toString)
  }

  test("cohort retention: event grain never shuffles; the one exchange is partial-grain") {
    // first-period agg (user-keyed: free) + join back (user-keyed: free) +
    // triple dedup (group keys include user: free) + per-partition partial
    // counts. The single exchange carries ONLY the partials — bounded by
    // partitions × triangle size, not events and not deduped user triples
    // — asserted via the exchange's own records-written metric.
    val df = Sessions.cohortRetention(ev, "user_id", "ts", 604800L)
    val groups = df.collect().length
    val plan = df.queryExecution.executedPlan
    assert(countShuffles(plan) == 1, plan.toString)
    def shuffleRecords(p: SparkPlan): Long = {
      val self = p match {
        case s: ShuffleExchangeExec =>
          s.metrics.get("shuffleRecordsWritten").map(_.value).getOrElse(0L)
        case _ => 0L
      }
      val nested: Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case _ => Seq.empty
      }
      self + (p.children ++ nested).map(shuffleRecords).sum
    }
    val records = shuffleRecords(plan)
    // the map side runs one task per bucket of the bucketed layout
    val bound = groups.toLong * graft.Tables.EventsBuckets
    assert(records <= bound,
      s"exchange carried $records rows — more than buckets × groups = $bound")
    // the partial count is Catalyst's own HashAggregate (codegen'd,
    // map-side before the exchange) — not an opaque RDD stage: a
    // hand-rolled mapPartitions partial produced the same exchange volume
    // but opted the stage out of whole-stage codegen
    val planStr = plan.toString
    assert(planStr.contains("HashAggregate"), planStr)
    assert(!planStr.contains("SerializeFromObject"),
      s"opaque RDD stage in cohort plan:\n$planStr")
  }

  test("bucketed-path sessionize result equals raw-path result") {
    val viaBucket = Sessions.sessionize(ev, "user_id", "ts", "event_id", 21600L)
      .groupBy("user_id", "session_idx").agg(count(lit(1)).as("n"))
    val viaRaw = Sessions.sessionize(Tables.events(spark, sfDir),
        "user_id", "ts", "event_id", 21600L)
      .groupBy("user_id", "session_idx").agg(count(lit(1)).as("n"))
    assert(viaBucket.exceptAll(viaRaw).isEmpty && viaRaw.exceptAll(viaBucket).isEmpty)
  }

  test("the co-bucketed fact pair joins and group-bys with zero shuffles") {
    // the orderkey sibling of the events layout: the pair's equi-join AND
    // the orderkey aggregate both fold into the bucketed scans
    val li = Tables.lineitemByOrder(spark, sfDir)
    val os = Tables.ordersByOrder(spark, sfDir)
    val joined = executed(
      li.join(os, col("o_orderkey") === col("l_orderkey"))
        .groupBy("l_orderkey").agg(count(lit(1)).as("n")))
    assert(countShuffles(joined) == 0, joined.toString)
  }

  test("a point lookup on the bucket key prunes the scan to ONE bucket") {
    // equality on the bucket column lets Spark skip 31 of 32 bucket
    // files before any IO — the bucketed layout's answer to the
    // reference's primary-key index probe. Caveat this test pins: the
    // planner's autoBucketedScan rule DISABLES bucketed reading for
    // queries with no join/agg on the bucket key, and with it the
    // pruning (per-file min/max can't help — every key-sorted bucket
    // file spans the whole keyspace). Point-lookup-heavy serving should
    // turn the rule off; DEPLOYMENT.md records the knob.
    val os = Tables.ordersByOrder(spark, sfDir)
    val key = os.select("o_orderkey").head().getLong(0)
    val knob = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val old = spark.conf.get(knob)
    try {
      spark.conf.set(knob, "false")
      val plan = executed(os.where(col("o_orderkey") === key))
      val scanStr = scans(plan).map(_.toString).mkString("\n")
      assert(scanStr.contains("SelectedBucketsCount: 1 out of " +
        Tables.OrderBuckets),
        s"expected one-bucket pruning:\n${scanStr.take(1500)}")
    } finally spark.conf.set(knob, old)
  }

  test("appends keep the pair co-located: the join stays shuffle-free " +
      "without a layout rebuild") {
    // new data arriving after the build: bucket assignment survives an
    // append (each new file carries its bucket id), so the co-located
    // join needs NO rebuild — only the one-file-per-bucket sort
    // advertisement degrades (Spark re-sorts scan-side) until a
    // compaction rewrites the layout. Throwaway tables, not the shared
    // fixture layout.
    import spark.implicits._
    def facts(from: Int, n: Int) =
      (from until from + n).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    spark.sql("DROP TABLE IF EXISTS append_left")
    spark.sql("DROP TABLE IF EXISTS append_right")
    def writeBucketed(df: org.apache.spark.sql.DataFrame, name: String,
        mode: String): Unit =
      df.repartition(8, col("k")).write.mode(mode)
        .bucketBy(8, "k").sortBy("k").format("parquet").saveAsTable(name)
    writeBucketed(facts(0, 100), "append_left", "overwrite")
    writeBucketed(facts(0, 100).withColumnRenamed("v", "w"),
      "append_right", "overwrite")
    // a day of fresh rows lands on the left side only
    writeBucketed(facts(100, 50), "append_left", "append")
    val joined = spark.table("append_left")
      .join(spark.table("append_right"), Seq("k"))
    val plan = executed(joined)
    assert(countShuffles(plan) == 0,
      s"append must not reintroduce the join shuffle:\n${plan.toString.take(1500)}")
    assert(joined.count() == 100, "only the original keys match")
    spark.sql("DROP TABLE append_left")
    spark.sql("DROP TABLE append_right")
  }

  test("bucketBy composes with partitionBy: day pruning first, bucket " +
      "co-location second (the DEPLOYMENT two-layout composition)") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS pb_events")
    val rows = (0 until 400).map { i =>
      (i % 40L, s"2024-01-0${1 + i % 3}", i.toLong)
    }.toDF("user_id", "day", "event_seq")
    rows.repartition(8, col("user_id")).write.mode("overwrite")
      .partitionBy("day").bucketBy(8, "user_id").sortBy("user_id")
      .format("parquet").saveAsTable("pb_events")
    val t = spark.table("pb_events")
    // day filter must prune partitions at plan time AND the per-user
    // aggregate must still fold into the bucketed scan with no exchange
    val agg = t.where(col("day") === "2024-01-02")
      .groupBy("user_id").agg(count(lit(1)).as("n"))
    val plan = executed(agg)
    assert(countShuffles(plan) == 0,
      s"bucketing must survive partition pruning:\n${plan.toString.take(1500)}")
    val scanStr = scans(plan).map(_.toString).mkString("\n")
    assert(scanStr.contains("PartitionFilters: [isnotnull(day"),
      s"day filter must prune partitions:\n${scanStr.take(1200)}")
    assert(agg.agg(sum("n")).head().getLong(0) ==
      rows.where(col("day") === "2024-01-02").count())
    spark.sql("DROP TABLE pb_events")
  }

  test("a concurrent builder's lock makes the second caller wait, then " +
      "register the winner's finished layout instead of rebuilding") {
    import java.nio.file.{Files, Paths}
    // build once so the layout exists, then simulate a racing builder by
    // planting a FRESH lock and deleting the catalog entry: the next call
    // must block on the lock until _SUCCESS is visible, then take the
    // register path (the data must not be rewritten — fingerprint the
    // directory before and after)
    val t = Tables.ordersByOrder(spark, sfDir)
    val loc = t.queryExecution.analyzed.collectLeaves().head match {
      case r: org.apache.spark.sql.catalyst.catalog.HiveTableRelation =>
        r.tableMeta.location.getPath
      case other =>
        other.asInstanceOf[org.apache.spark.sql.execution.datasources.LogicalRelation]
          .catalogTable.get.location.getPath
    }
    val files = Files.list(Paths.get(loc)).toArray.map(_.toString).sorted
    val mtimes = files.map(f =>
      Files.getLastModifiedTime(Paths.get(f)).toMillis).toSeq
    val tableName = t.queryExecution.analyzed.collectLeaves().head match {
      case r: org.apache.spark.sql.catalyst.catalog.HiveTableRelation =>
        r.tableMeta.identifier.table
      case other =>
        other.asInstanceOf[org.apache.spark.sql.execution.datasources.LogicalRelation]
          .catalogTable.get.identifier.table
    }
    spark.sql(s"DROP TABLE $tableName")
    // the lock branch only engages while _SUCCESS is absent — hide it so
    // the waiter genuinely enters the wait loop (a planted lock with
    // _SUCCESS present would be skipped and the test would be vacuous)
    val success = Paths.get(loc, "_SUCCESS")
    val hidden = Paths.get(loc, "_SUCCESS.hidden")
    Files.move(success, hidden)
    val lock = Paths.get(loc + ".lock")
    Files.createFile(lock)
    // the "winner": finishes its build at t=1.5 s — _SUCCESS appears,
    // then the lock goes away (the production finally-order)
    val release = new Thread(() => {
      Thread.sleep(1500)
      Files.move(hidden, success)
      Files.delete(lock)
    })
    release.start()
    val t0 = System.nanoTime()
    val again = Tables.ordersByOrder(spark, sfDir) // must wait ~1.5 s
    val waitedMs = (System.nanoTime() - t0) / 1e6
    release.join()
    assert(waitedMs >= 1000,
      s"the caller must have waited on the foreign lock, waited $waitedMs ms")
    assert(again.count() == t.count())
    val dataFiles = files.filterNot(f =>
      f.endsWith("_SUCCESS") || f.contains(".lock"))
    val before = dataFiles.map(f => mtimes(files.indexOf(f)))
    val after = dataFiles.map(f =>
      Files.getLastModifiedTime(Paths.get(f)).toMillis)
    assert(after.toSeq == before.toSeq,
      "the finished layout must be registered, not rebuilt")
  }
}
