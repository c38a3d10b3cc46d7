package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Stream–stream interval join — the continuous form of a batch range
  * join on key and time: each left event pairs with
  * the right-stream events for the same key whose timestamp lands in
  * `[left_ts, left_ts + withinSec]` (the impressions×clicks attribution
  * shape). Both sides carry watermarks and the join predicate bounds each
  * stream's timestamp by the other's, so Structured Streaming can evict
  * state: a buffered right row dies once the LEFT watermark passes
  * `right_ts` (no earlier left row can still claim it), and vice versa —
  * state is O(events inside the watermark horizon), independent of
  * history.
  *
  * The left-outer variant additionally emits `(left, null)` exactly once
  * per unmatched left row, when the right watermark guarantees no match
  * can still arrive — the streaming equivalent of the batch left join,
  * with the delay being the price of the guarantee.
  */
object StreamJoin {

  /** Interval join on `keyCol` equality with
    * `rightTs ∈ [leftTs, leftTs + withinSec]`. Column names of the two
    * inputs must be disjoint apart from `keyCol` (the join key appears
    * once in the output). `joinType`: "inner" or "leftOuter".
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
      leftTs: String, rightTs: String, withinSec: Long,
      leftDelay: String, rightDelay: String,
      joinType: String = "inner"): DataFrame = {
    require(withinSec >= 0, s"withinSec must be >= 0, got $withinSec")
    require(leftTs != rightTs, "left and right timestamp columns must differ")
    require(Seq("inner", "leftOuter").contains(joinType),
      s"unsupported joinType $joinType")
    val overlap = left.columns.toSet.intersect(right.columns.toSet) - keyCol
    require(overlap.isEmpty,
      s"non-key columns must be disjoint, clashing: ${overlap.mkString(",")}")
    val l = left.withWatermark(leftTs, leftDelay)
    val r = right.withWatermark(rightTs, rightDelay)
    l.join(r,
      l(keyCol) === r(keyCol) &&
        col(rightTs) >= col(leftTs) &&
        col(rightTs) <= col(leftTs) + expr(s"INTERVAL $withinSec SECONDS"),
      joinType)
      .drop(r(keyCol))
  }

  /** Drive to an in-memory table (append mode — the only output mode
    * stream–stream joins support).
    */
  def runToMemory(spark: SparkSession, left: DataFrame, right: DataFrame,
      keyCol: String, leftTs: String, rightTs: String, withinSec: Long,
      leftDelay: String, rightDelay: String, joinType: String,
      sinkName: String): StreamingQuery =
    intervalJoin(left, right, keyCol, leftTs, rightTs, withinSec,
      leftDelay, rightDelay, joinType)
      .writeStream
      .format("memory")
      .queryName(sinkName)
      .outputMode("append")
      .start()
}
