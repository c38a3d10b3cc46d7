package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming upsert: keyed latest-row state, the reference's
  * live-store PK semantics (/root/reference/memstore/ingestion.go:25-76,
  * cuckoo_index.go:131-195) re-expressed as `flatMapGroupsWithState`.
  *
  * Each micro-batch's records update per-PK state (higher sequence wins —
  * the explicit form of the reference's batch-order overwrite), and the
  * changed rows are emitted downstream in Update mode, so a sink always
  * converges to one live row per key. Exactly-once replay comes from
  * Structured Streaming checkpointing of a replayable source (the redo
  * log's job, redolog/file_redolog_manager.go, for free).
  *
  * Scale note (SURVEY §7.4.5): keyed state holds one Record per DISTINCT
  * KEY EVER SEEN by default — inherent to upsert (evicting a key forgets
  * its latest row). Deployments whose keys are retention-scoped (the
  * live/archive split: rows past the archiving cutoff live in the
  * day-partitioned archive, [[graft.ingest.Archiver]]) should pass
  * `ttlMs` ≈ the archiving delay so idle keys age out of state once the
  * archive owns them (`GroupStateTimeout.ProcessingTimeTimeout`); without
  * a TTL, churning key spaces grow state without bound.
  */
object StreamingUpsert {

  /** A generic upsert record: PK, arrival sequence, payload. */
  final case class Record(key: Long, seq: Long, payload: Double)

  implicit private val recordEnc: Encoder[Record] = Encoders.product[Record]
  implicit private val keyEnc: Encoder[Long] = Encoders.scalaLong

  private def updateGroup(key: Long, rows: Iterator[Record],
      state: GroupState[Record]): Iterator[Record] = {
    val incoming = rows.reduceOption((a, b) => if (a.seq >= b.seq) a else b)
    incoming match {
      case Some(r) =>
        if (state.getOption.forall(_.seq <= r.seq)) {
          state.update(r)
          Iterator.single(r)
        } else Iterator.empty
      case None => Iterator.empty
    }
  }

  private[streaming] def updateGroupTtl(ttlMs: Long)(key: Long, rows: Iterator[Record],
      state: GroupState[Record]): Iterator[Record] =
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      val out = updateGroup(key, rows, state)
      if (state.exists) state.setTimeoutDuration(ttlMs)
      out
    }

  /** Latest-wins upsert over a stream of [[Record]]s. Emits the winning
    * row of each group whenever it changes.
    *
    * @param ttlMs idle-key state eviction (0 = keep forever): a key
    *   untouched for `ttlMs` drops from state — use when keys are
    *   retention-scoped (see class doc); a record for an evicted key is
    *   treated as new, so the TTL must exceed the window in which late
    *   lower-seq records can still arrive
    */
  def latestByKey(records: Dataset[Record], ttlMs: Long = 0): Dataset[Record] =
    if (ttlMs <= 0)
      records.groupByKey(_.key)
        .flatMapGroupsWithState[Record, Record](
          OutputMode.Update(), GroupStateTimeout.NoTimeout())(updateGroup _)
    else
      records.groupByKey(_.key)
        .flatMapGroupsWithState[Record, Record](
          OutputMode.Update(),
          GroupStateTimeout.ProcessingTimeTimeout())(updateGroupTtl(ttlMs) _)

  /** Convenience: run the upsert from a streaming source to an in-memory
    * sink table (used by specs and as the wiring example for a Kafka
    * source: `spark.readStream.format("kafka")...` feeds the same shape).
    */
  def runToMemory(spark: SparkSession, source: Dataset[Record],
      sinkName: String): org.apache.spark.sql.streaming.StreamingQuery = {
    latestByKey(source).writeStream
      .format("memory")
      .queryName(sinkName)
      .outputMode("update")
      .start()
  }
}
