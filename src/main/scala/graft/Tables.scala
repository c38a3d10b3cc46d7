package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated synthetic tables (TESTDATA.md).
  *
  * Role mapping (FIXTURES.md §5): `lineitem`/`orders`/`events` are fact
  * tables (event time = l_shipdate / o_orderdate / ts); `customer`,
  * `supplier`, `part`, `nation`, `region` are dimension tables with a
  * single-column primary key — the same star shape as the reference's
  * fact + dimension model (/root/reference/metastore/common/model.go:128-151).
  *
  * At 100 TB the fact tables would be day-partitioned parquet directories;
  * these helpers read whatever parquet layout sits under `dir` and rely on
  * Catalyst partition pruning + predicate pushdown for scan reduction.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Default archive sort columns for `events` — equality prefilter
    * candidates, so parquet row-group min/max stats turn them into
    * zone-map skips (the reference's archivingSortColumns,
    * /root/reference/metastore/common/model.go:139).
    */
  val EventsSortCols: Seq[String] = Seq("event_type", "user_id")

  /** Every file under `path` (recursively; `path` itself when it is a
    * file) as (qualified path, length, mtime), sorted, with no filter —
    * `_SUCCESS`, hidden and staging files count, so any write under the
    * directory changes it. One `listStatus` per directory, because
    * Hadoop's `listFiles(dir, recursive = true)` is far slower on the
    * local filesystem (CHANGES.md has the measurement). A missing path
    * has no files.
    */
  private def leafFiles(fs: FileSystem, path: Path): Vector[(String, Long, Long)] = {
    def walk(p: Path): Vector[(String, Long, Long)] =
      fs.listStatus(p).toVector.flatMap { st =>
        if (st.isDirectory) walk(st.getPath)
        else Vector((st.getPath.toString, st.getLen, st.getModificationTime))
      }
    try walk(path).sorted
    catch { case _: java.io.FileNotFoundException => Vector.empty }
  }

  /** One resolved parquet relation per (session, qualified dir,
    * mergeSchema), with the files it was resolved over. */
  private final case class Resolved(files: Vector[(String, Long, Long)], df: DataFrame)
  private val resolved = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, Boolean), Resolved]()

  /** The parquet relation under `dir`, resolved once per file set: every
    * call walks `dir` ([[leafFiles]]) and returns the DataFrame of the last
    * call whose walk found the same files, else resolves it with
    * `spark.read` (a listing plus a footer-schema inference job) and keeps
    * that instead. The file set IS the table version, so writers in this
    * JVM and in others (a peer's drain into a shared archive, a
    * rebalance process) invalidate it by writing, with no hook.
    *
    * A resolve is kept only when a second walk after it finds the files
    * the first one did, so a kept DataFrame never lists files that a later
    * walk could match without them. Files are still walked once per call,
    * where a fresh `spark.read` listed them: a file deleted after that
    * point fails the read, and a retry that calls here again sees the new
    * file set.
    */
  def parquet(spark: SparkSession, dir: String,
      mergeSchema: Boolean = false): DataFrame = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = leafFiles(fs, p)
    val key = (spark, fs.makeQualified(p).toString, mergeSchema)
    Option(resolved.get(key)).filter(_.files == files).map(_.df).getOrElse {
      val reader = if (mergeSchema) spark.read.option("mergeSchema", "true") else spark.read
      val df = reader.parquet(dir)
      if (leafFiles(fs, p) == files) resolved.put(key, Resolved(files, df))
      else resolved.remove(key)
      df
    }
  }

  /** Forget `spark`'s resolved relations, so the next read of each dir
    * pays its listing and schema inference again. */
  def dropResolved(spark: SparkSession): Unit =
    resolved.keySet.removeIf(_._1 eq spark)

  private lazy val fixtureConf = new Configuration()

  /** Fingerprint of a source parquet file or directory over its
    * [[leafFiles]] — layout caches key on it so a regenerated fixture,
    * or one part file rewritten in place, invalidates every derived layout.
    */
  private def sourceFingerprint(dir: String, srcTable: String): String = {
    val src = new Path(dir, s"$srcTable.parquet")
    val files = leafFiles(src.getFileSystem(fixtureConf), src)
    if (files.isEmpty) "missing"
    else {
      val digest = java.security.MessageDigest.getInstance("SHA-256")
        .digest(files.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      digest.take(8).map(b => f"$b%02x").mkString
    }
  }

  def eventsArchivePath(dir: String): String = {
    val tag = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    s"target/graft-archive/$tag-${sourceFingerprint(dir, "events")}/events"
  }

  /** Per-layout build monitors: in-JVM build/register serialization is
    * PER LAYOUT, not global — a thread waiting out another process's
    * multi-minute foreign build (the cross-process wait loop below) must
    * not stall unrelated layouts whose data is already built and only
    * needs the cheap catalog re-registration.
    */
  private val layoutMonitors =
    scala.collection.concurrent.TrieMap.empty[String, Object]
  private def layoutMonitor(key: String): Object =
    layoutMonitors.getOrElseUpdate(key, new Object)

  /** Day-partitioned archive of `events`, built lazily once per (sfDir,
    * source fingerprint) under `target/graft-archive` and reused by every
    * query. This is the DEFAULT storage layout for the fact table — the
    * reference serves queries from day-partitioned sorted archive batches
    * (/root/reference/memstore/archiving.go:59-141), and the Spark
    * equivalent is a day-partitioned parquet directory whose partition
    * column Catalyst statically prunes. At 100 TB the raw single-file
    * layout full-scans every time-filtered query (the nanos `ts` is a
    * computed column whose range filters cannot push down); the archive
    * layout reads only the filtered days.
    */
  def eventsArchived(spark: SparkSession, dir: String): DataFrame = {
    val out = eventsArchivePath(dir)
    layoutMonitor(out).synchronized {
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(out, "_SUCCESS")))
        graft.ingest.Archiver.archive(events(spark, dir), "ts", EventsSortCols, out)
    }
    parquet(spark, out)
  }

  /** Bucket count for the user-keyed events layout. Matches the bench
    * parallelism target; at cluster scale this would be sized to
    * (table bytes / target partition bytes).
    */
  val EventsBuckets = 32

  /** Shared build-once/register-everywhere protocol for bucketed,
    * per-bucket-sorted layouts (eventsByUser and the orderkey fact pair).
    *
    * `repartition(buckets, key)` before the bucketed write uses the same
    * murmur3 hash as the bucket assignment, so each task holds exactly
    * one bucket and writes exactly one file — which is what lets the scan
    * advertise the per-bucket sort order (single file per bucket).
    *
    * Concurrency: in-JVM callers serialize on a PER-LAYOUT monitor (a
    * global lock would park every other layout's cheap re-registration
    * behind one thread waiting out a foreign multi-minute build);
    * CROSS-PROCESS builders (sbt test + a Verify/Bench JVM on the same
    * fixture) serialize on an atomically-created `<path>.lock` — the
    * loser waits for the winner's `_SUCCESS` and registers the finished
    * layout instead of launching a second overwrite build into the same
    * directory (whose delete would tear the winner's staged files). The
    * holder HEARTBEATS the lock mtime every 30 s while building, so a
    * lock whose mtime is older than 10 minutes is a CRASHED builder
    * (20 missed beats), never a slow one; takeover is an atomic
    * rename-away (a fresh lock recreated in the check-to-takeover window
    * makes the rename fail and the waiter just loops — it can never
    * delete a live holder's lock).
    */
  private def bucketedTable(spark: SparkSession, dir: String,
      srcTable: String, layout: String, keyCol: String,
      sortCols: Seq[String], buckets: Int, df: => DataFrame): DataFrame = {
    import java.nio.file.{Files, Paths}
    val tag = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val path = Paths.get(
      s"target/graft-bucketed/$tag-${sourceFingerprint(dir, srcTable)}/$layout")
      .toAbsolutePath.toString
    val name = (layout + "_" +
      path.replaceAll(".*graft-bucketed/", "")).replaceAll("[^A-Za-z0-9_]", "_")
    layoutMonitor(name).synchronized {
      if (!spark.catalog.tableExists(name)) {
        val src = df
        val success = Paths.get(path, "_SUCCESS")
        if (!Files.exists(success)) {
          val lock = Paths.get(path + ".lock")
          Files.createDirectories(lock.getParent)
          var acquired = false
          while (!acquired && !Files.exists(success)) {
            try { Files.createFile(lock); acquired = true }
            catch { case _: java.nio.file.FileAlreadyExistsException =>
              // the holder may delete the lock (build done) between our
              // failed create and this stat — a vanished lock just means
              // "loop and re-check", never an error
              val age =
                try Some(System.currentTimeMillis -
                  Files.getLastModifiedTime(lock).toMillis)
                catch { case _: java.io.IOException => None }
              if (age.exists(_ > 10 * 60 * 1000L)) {
                // crashed builder (the holder heartbeats every 30 s, so
                // 20 missed beats = dead): take over by rename-away, with
                // a re-stat IMMEDIATELY before the move. A fresh lock can
                // only occupy this path after another waiter's rename
                // removed the stale one (createFile fails while any lock
                // exists), so stealing a live lock needs a second
                // takeover AND a re-acquire inside the stat-to-move
                // microsecond window; the re-stat reduces that to a
                // deliberate three-process interleaving, and the rename
                // (vs delete) means at most ONE waiter wins the loop's
                // next createFile either way
                try {
                  val still = System.currentTimeMillis -
                    Files.getLastModifiedTime(lock).toMillis > 10 * 60 * 1000L
                  if (still) Files.move(lock,
                    Paths.get(path + s".lock.stale.${System.nanoTime()}"))
                } catch { case _: java.io.IOException => () }
              } else Thread.sleep(500)
            }
          }
          if (acquired) {
            // heartbeat so a LONG build (large SF) is never mistaken for
            // a crashed one by a waiting process
            val beat = new Thread(() => {
              try while (!Thread.interrupted()) {
                Thread.sleep(30 * 1000L)
                try Files.setLastModifiedTime(lock,
                  java.nio.file.attribute.FileTime.fromMillis(
                    System.currentTimeMillis))
                catch { case _: java.io.IOException => () }
              } catch { case _: InterruptedException => () }
            })
            beat.setDaemon(true)
            beat.start()
            try {
              if (!Files.exists(success))
                src.repartition(buckets, col(keyCol))
                  .write.mode("overwrite")
                  .bucketBy(buckets, keyCol)
                  .sortBy(sortCols.head, sortCols.tail: _*)
                  .option("path", path)
                  .format("parquet")
                  .saveAsTable(name)
            } finally {
              beat.interrupt()
              Files.deleteIfExists(lock)
            }
          }
        }
        if (!spark.catalog.tableExists(name))
          // data built by a previous JVM or a concurrent process; only
          // the catalog entry is session-scoped — re-register it
          spark.sql(
            s"""CREATE TABLE $name (${src.schema.toDDL})
               |USING PARQUET
               |CLUSTERED BY ($keyCol) SORTED BY (${sortCols.mkString(", ")})
               |INTO $buckets BUCKETS
               |LOCATION '$path'""".stripMargin)
      }
    }
    spark.table(name)
  }

  /** The DEFAULT layout for user-keyed analytics (sessionize / funnel /
    * cohort): `events` bucketed AND per-bucket-sorted on
    * (user_id, ts, event_id), built once per (sfDir, source fingerprint)
    * and registered in the session catalog. Every window / aggregation /
    * join keyed on user_id then runs WITHOUT an exchange — the scan itself
    * reports HashPartitioning(user_id) and the per-bucket sort order, so
    * Catalyst drops both the Exchange and (single file per bucket) the
    * Sort. This is the multi-file generalization of the reference's
    * PK-sorted archive batches (/root/reference/memstore/archiving.go:71-117):
    * pre-pay the shuffle once at write time instead of per query.
    */
  def eventsByUser(spark: SparkSession, dir: String): DataFrame =
    bucketedTable(spark, dir, "events", "events_by_user", "user_id",
      Seq("user_id", "ts", "event_id"), EventsBuckets, events(spark, dir))

  /** Orderkey-co-bucketed fact pair: `lineitem` and `orders` both bucketed
    * (and per-bucket sorted) on the order key with the SAME bucket count —
    * the eventsByUser discipline generalized to the TPC-H fact⋈fact join.
    * Every orderkey equi-join or orderkey group-by over the pair then runs
    * with ZERO hash exchanges: matching keys sit in matching files, the
    * bucketed scans advertise HashPartitioning(orderkey), and Catalyst
    * drops both Exchanges (and the scan-side Sorts). At 100 TB this is the
    * deploy-time answer to the one shuffle the q3/q12/q18/q21 family
    * otherwise pays per query: pre-pay it once at ingest. Built lazily per
    * (sfDir, source fingerprint) and cached across JVMs like eventsByUser.
    */
  val OrderBuckets = 32

  def lineitemByOrder(spark: SparkSession, dir: String): DataFrame =
    bucketedTable(spark, dir, "lineitem", "lineitem_by_order", "l_orderkey",
      Seq("l_orderkey"), OrderBuckets, lineitem(spark, dir))

  def ordersByOrder(spark: SparkSession, dir: String): DataFrame =
    bucketedTable(spark, dir, "orders", "orders_by_order", "o_orderkey",
      Seq("o_orderkey"), OrderBuckets, orders(spark, dir))

  /** Dimension tables: small, single-col PK, broadcast-join candidates. */
  val dims: Set[String] = Set("region", "nation", "customer", "supplier", "part")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else parquet(spark, s"$dir/$name.parquet")

  /** `events.ts` has shipped in two parquet layouts across driver
    * generations: TIMESTAMP(NANOS) — which Spark's TimestampType (µs)
    * rejects outright, so it is read as a raw Long under
    * `spark.sql.legacy.parquet.nanosAsLong=true` and floor-truncated to
    * µs here (true floor via pmod, correct for pre-epoch values too) —
    * and TIMESTAMP(MICROS) with isAdjustedToUTC=false, which Spark 4
    * infers as TIMESTAMP_NTZ. `events` normalizes BOTH to TimestampType
    * µs so every downstream filter/bucketizer sees one type: floor
    * truncation preserves comparisons against whole-second boundaries,
    * and the NTZ→TimestampType cast is instant-identical under the UTC
    * session timezone every entrypoint pins.
    */
  private def eventsRaw(spark: SparkSession, dir: String): DataFrame =
    parquet(spark, s"$dir/events.parquet")

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = eventsRaw(s, d)
    raw.schema("ts").dataType match {
      case LongType => // ns-as-long layout: floor-truncate to µs
        raw.withColumn("ts", timestamp_micros(expr("(ts - pmod(ts, 1000)) div 1000")))
      case TimestampType => raw
      case TimestampNTZType => // µs, not UTC-adjusted: same instant under UTC session tz
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case other => // anything else is a corrupted fixture — fail loudly,
        // a silent cast would mask the schema regression downstream
        throw new IllegalStateException(
          s"events.ts has unexpected parquet type $other " +
            "(expected TIMESTAMP(NANOS)-as-long, TIMESTAMP, or TIMESTAMP_NTZ)")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
