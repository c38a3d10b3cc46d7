package graft.ingest

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Hot-partition cache manager — the reference's host memory manager
  * re-expressed for Spark's columnar cache
  * (/root/reference/memstore/host_memory_manager.go:1-622, driven by the
  * per-column `preloadingDays` / `priority` table-config knobs,
  * metastore/common/model.go:20-36): a long-lived server pins the most
  * recent `preloadingDays` day partitions of an archived fact table in
  * executor memory and evicts by priority-then-age under a byte budget,
  * so the hot tail of the table answers from memory while history stays
  * on (object-store) parquet.
  *
  * Granularity mapping: the reference pins (column, day-batch) pairs and
  * evicts whole batches by `(priority, batchID)`; here the cache unit is
  * one DAY PARTITION cached through `Dataset.persist` — Spark's cache is
  * COLUMNAR (an `InMemoryRelation` stores per-column batches and
  * `InMemoryTableScan` prunes columns at read), so per-column residency
  * arrives for free once the day is cached, and eviction follows the
  * reference's order: lowest priority first, oldest day within a
  * priority.
  *
  * Query integration is plan-level, not config-level: [[view]] unions
  * the cached day frames with a cold scan that EXCLUDES the cached days
  * — day-range predicates prune both sides (Catalyst pushes them into
  * the parquet partition filter and the in-memory batch stats), and
  * results are identical cached or cold by construction (the day sets
  * partition the table; `HostMemoryManagerSpec` pins identity, the
  * InMemoryTableScan plan, and eviction order). The identity holds
  * while pinned days are IMMUTABLE — a job that rewrites a pinned day
  * in place (Backfill, Compactor) must call [[invalidate]] with its
  * affected days, or the cached frame keeps serving pre-rewrite rows.
  * Resident bytes come from the block manager's own accounting
  * (`getRDDStorageInfo`), the number `/dbg/cache` reports.
  *
  * At 100 TB the budget is the executor-memory share the operator grants
  * the hot set (the reference's `totalMemorySize` knob); everything
  * outside it reads parquet exactly as before — the manager only ever
  * changes WHERE bytes are read from, never what a query answers.
  */
final class HostMemoryManager(spark: SparkSession, budgetBytes: Long) {
  require(budgetBytes > 0, s"budgetBytes $budgetBytes must be positive")

  import HostMemoryManager._

  private val entries = mutable.LinkedHashMap.empty[(String, String), Entry]
  private val lock = new Object
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Pin the most recent `preloadingDays` day partitions of `table` at
    * `priority`, then evict to budget. Returns the days newly cached by
    * THIS call (already-resident days are refreshed in place if the
    * priority changed — the reference's preloadJob on a config update).
    */
  def preload(table: String, archiveDir: String, preloadingDays: Int,
      priority: Long = 0): Seq[String] = lock.synchronized {
    require(preloadingDays >= 0, s"preloadingDays $preloadingDays must be >= 0")
    val hot = graft.exec.SliceBootstrap.localDays(spark, archiveDir).takeRight(preloadingDays)
    val added = Seq.newBuilder[String]
    hot.foreach { day =>
      entries.get((table, day)) match {
        case Some(e) => e.priority = priority
        case None =>
          val df = spark.read.parquet(archiveDir)
            .where(col(Archiver.DayCol) === day)
          val bytes = cacheAndMeasure(df)
          entries((table, day)) = new Entry(df, archiveDir, priority, bytes)
          added += day
      }
    }
    evictToBudget()
    added.result()
  }

  /** Pin ONE day partition at `priority` (the reference's per-batch
    * preload job shape — host_memory_manager.go's preloadJob channel).
    * Returns false if the day is not present in the archive.
    */
  def pin(table: String, archiveDir: String, day: String,
      priority: Long = 0): Boolean = lock.synchronized {
    if (!graft.exec.SliceBootstrap.localDays(spark, archiveDir).contains(day)) return false
    entries.get((table, day)) match {
      case Some(e) => e.priority = priority
      case None =>
        val df = spark.read.parquet(archiveDir)
          .where(col(Archiver.DayCol) === day)
        val bytes = cacheAndMeasure(df)
        entries((table, day)) = new Entry(df, archiveDir, priority, bytes)
    }
    evictToBudget()
    true
  }

  /** Persist + materialize, returning the block manager's accounting of
    * the new cached blocks (memory + disk). The manager owns its
    * session's persist lifecycle (like the reference manager owns device
    * memory), so new storage entries between the two snapshots are its
    * own.
    */
  private def cacheAndMeasure(df: DataFrame): Long = {
    val before = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    spark.sparkContext.getRDDStorageInfo.filterNot(i => before(i.id))
      .map(i => i.memSize + i.diskSize).sum
  }

  /** Evict lowest-priority-first, oldest-day-within-priority (the
    * reference's `(priority, batchID)` eviction heap) until resident
    * bytes fit the budget. Returns the evicted (table, day) keys.
    */
  def evictToBudget(): Seq[(String, String)] = lock.synchronized {
    val evicted = Seq.newBuilder[(String, String)]
    while (residentBytes > budgetBytes && entries.nonEmpty) {
      val (key, e) = entries.toSeq.minBy { case ((_, day), en) => (en.priority, day) }
      e.df.unpersist(blocking = true)
      entries.remove(key)
      evicted += key
      log.info(s"evicted ${key._1}/${key._2} (${e.bytes} bytes, priority ${e.priority})")
    }
    evicted.result()
  }

  def residentBytes: Long = entries.valuesIterator.map(_.bytes).sum

  /** The serving frame for `table`: cached hot days union a cold scan of
    * everything else. With no resident days this is exactly the plain
    * archive scan.
    */
  def view(table: String, archiveDir: String): DataFrame = lock.synchronized {
    val hot = entries.collect {
      case ((t, day), e) if t == table && e.archiveDir == archiveDir => (day, e)
    }.toSeq.sortBy(_._1)
    val base = spark.read.parquet(archiveDir)
    if (hot.isEmpty) base
    else {
      val cold = base.where(!col(Archiver.DayCol).isin(hot.map(_._1): _*))
      (hot.map(_._2.df) :+ cold).reduce(_.unionByName(_))
    }
  }

  /** `catalog` with `table`'s load re-pointed through [[view]] — results
    * identical, hot days answered from the columnar cache.
    */
  def wrapCatalog(catalog: graft.aql.Catalog, table: String,
      archiveDir: String): graft.aql.Catalog = {
    val td = catalog.tables(table)
    catalog.copy(tables = catalog.tables +
      (table -> td.copy(load = _ => view(table, archiveDir))))
  }

  /** Drop cached entries for rewritten day partitions so the next
    * [[view]] serves the corrected bytes cold. MUST be called after any
    * job that rewrites a pinned day in place (a [[Backfill]] patch, a
    * [[Compactor]] rewrite — both return the affected days): the cached
    * frame otherwise keeps serving the pre-rewrite rows forever (view's
    * cold side EXCLUDES cached days, so corrections never surface), and
    * a cached block lost to executor churn would re-read files the
    * rewrite renamed away and fail the query. Returns the days dropped;
    * re-pin afterwards if the day should stay hot.
    */
  def invalidate(table: String, days: Seq[String]): Seq[String] =
    lock.synchronized {
      val hit = days.filter(d => entries.contains((table, d)))
      hit.foreach { d =>
        entries.remove((table, d)).foreach(_.df.unpersist(blocking = true))
      }
      hit
    }

  /** Drop every entry (server shutdown). */
  def clear(): Unit = lock.synchronized {
    entries.valuesIterator.foreach(_.df.unpersist(blocking = false))
    entries.clear()
  }

  /** The `/dbg/cache` surface: budget, resident bytes, per-entry detail. */
  def statusJson: String = lock.synchronized {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    JsonMethods.compact(JsonMethods.render(JObject(
      "budgetBytes" -> JLong(budgetBytes),
      "residentBytes" -> JLong(residentBytes),
      "entries" -> JArray(entries.toList.sortBy(_._1).map { case ((t, day), e) =>
        JObject("table" -> JString(t), "day" -> JString(day),
          "priority" -> JLong(e.priority), "bytes" -> JLong(e.bytes))
      }))))
  }
}

object HostMemoryManager {
  private final class Entry(val df: DataFrame, val archiveDir: String,
      var priority: Long, val bytes: Long)
}
