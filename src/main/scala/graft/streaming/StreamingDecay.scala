package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-batch exponential time-decay scoring — the streaming form of
  * [[graft.operators.Sessions.decayedCount]]: a `foreachBatch` sink
  * maintaining, per key, the recency-weighted activity mass
  * `Σ 2^(−(asOf − ts)/halfLife)` over the WHOLE stream history, without
  * ever rescanning it. The live "what's trending now" table.
  *
  * This works because decayed mass is mergeable UNDER REBASE: a mass
  * valued at as-of `a₁` is the same activity valued at `a₂ > a₁` after
  * multiplying by `2^(−(a₂−a₁)/halfLife)` — so each batch folds as
  * (rebase previous state to the new as-of) + (the batch's own decayed
  * aggregate), two key-cardinality tables in a full outer join. The
  * state's as-of advances to the max event second seen so far (never
  * backwards — a late batch rebases ITSELF to the newer state as-of).
  *
  * State boundedness: keys whose rebased mass falls below `minMass`
  * drop from the state — an idle key's mass halves every half-life, so
  * state size tracks RECENTLY-ACTIVE keys, not all keys ever seen (the
  * TTL discipline of [[StreamingUpsert]], expressed in mass instead of
  * wall time). Dropping a key forgets at most `minMass` of score, the
  * documented approximation.
  *
  * Exactly-once replay: state for batch b derives from the newest state
  * with id < b and is atomically renamed to `state=<b>`, so a replayed
  * batch rewrites the same directory from the same predecessor and
  * cannot double-count.
  *
  * Scale shape: per batch one partial/final aggregate over the batch
  * plus one key-cardinality outer join; state size bounded by active
  * keys; nothing grows with stream length.
  *
  * [[StreamingDecaySpec]] pins the defining property: the streamed state
  * after N batches equals the one-shot batch `decayedCount` over the
  * concatenated input at the same as-of (within float tolerance — the
  * rebase factors multiply where the batch form exponentiates once).
  */
class StreamingDecay(storeDir: String, keyCol: String, tsCol: String,
    halfLifeSec: Double, minMass: Double = 0.0) extends Serializable {
  require(halfLifeSec > 0, s"halfLife $halfLifeSec must be > 0")
  require(minMass >= 0, s"minMass $minMass must be >= 0")

  private val StatePrefix = "state="

  /** The foreachBatch hook. */
  def update(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val prev = latestBefore(spark, batchId)
    val secs = unix_timestamp(col(tsCol))
    val batchAsOfRow = batch.agg(max(secs)).head()
    val merged =
      if (batchAsOfRow.isNullAt(0)) {
        // empty batch: carry the previous state forward unchanged (a
        // state=<b> directory must still land so replay stays aligned).
        // With no previous state either, the batch's own (empty) agg
        // provides a zero-row frame with the RIGHT key type.
        prev.map(_._2).getOrElse(
          batch.groupBy(col(keyCol).as("key"))
            .agg(sum(lit(0.0)).as("decayed_n"), count(lit(1)).as("n"))
            .withColumn("as_of", lit(0L)))
      } else {
        val batchAsOf = batchAsOfRow.getLong(0)
        val asOf = math.max(batchAsOf, prev.map(_._1).getOrElse(Long.MinValue))
        val dt = lit(asOf).cast("double") - secs.cast("double")
        val fresh = batch
          .groupBy(col(keyCol).as("key"))
          .agg(sum(exp(-(log(lit(2.0)) * dt) / lit(halfLifeSec)))
            .as("decayed_n"), count(lit(1)).as("n"))
        val folded = prev match {
          case None => fresh.withColumn("as_of", lit(asOf))
          case Some((prevAsOf, prevDf)) =>
            val rebase = math.pow(2.0, -(asOf - prevAsOf) / halfLifeSec)
            fresh
              .select(col("key"), col("decayed_n").as("__dn"), col("n").as("__n"))
              .join(prevDf.select(col("key"),
                (col("decayed_n") * lit(rebase)).as("__pd"),
                col("n").as("__pn")), Seq("key"), "full_outer")
              .select(col("key"),
                (coalesce(col("__pd"), lit(0.0)) +
                  coalesce(col("__dn"), lit(0.0))).as("decayed_n"),
                (coalesce(col("__pn"), lit(0L)) +
                  coalesce(col("__n"), lit(0L))).as("n"),
                lit(asOf).as("as_of"))
        }
        if (minMass > 0) folded.where(col("decayed_n") >= minMass) else folded
      }
    val fs = new Path(storeDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(storeDir))
    val tmp = new Path(storeDir, s".tmp-$StatePrefix$batchId")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    merged.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val target = new Path(storeDir, s"$StatePrefix$batchId")
    if (fs.exists(target)) fs.delete(target, true)
    if (!fs.rename(tmp, target))
      throw new java.io.IOException(s"state rename failed: $tmp -> $target")
  }

  private def stateIds(spark: SparkSession): Seq[Long] = {
    val root = new Path(storeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith(StatePrefix))
      .map(_.stripPrefix(StatePrefix).toLong).toSeq.sorted
  }

  private def latestBefore(spark: SparkSession,
      batchId: Long): Option[(Long, DataFrame)] = {
    stateIds(spark).filter(_ < batchId).lastOption.map { id =>
      val df = spark.read.parquet(s"$storeDir/$StatePrefix$id")
      val asOf =
        if (df.isEmpty) Long.MinValue
        else df.agg(max("as_of")).head().getLong(0)
      (asOf, df)
    }
  }

  /** The newest per-key decayed-mass table (key, decayed_n, n, as_of). */
  def current(spark: SparkSession): Option[DataFrame] =
    stateIds(spark).lastOption
      .map(id => spark.read.parquet(s"$storeDir/$StatePrefix$id"))

  /** Drop state directories older than the newest `keep` (replay
    * horizon).
    */
  def prune(spark: SparkSession, keep: Int): Unit = {
    val ids = stateIds(spark)
    val fs = new Path(storeDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    ids.dropRight(keep).foreach(id =>
      fs.delete(new Path(storeDir, s"$StatePrefix$id"), true))
  }
}
