package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The ONE SparkSession builder the bench evidence trail runs on —
  * shared by [[Bench]] (the driver-timed suite), [[PlanDump]] (the
  * committed plan evidence) and [[Verify]] (the oracle dump), so a
  * captured plan is always the plan the bench actually executed and the
  * oracle checks answers under the config the bench times (r15 ADVICE:
  * the copy-pasted configs silently diverge on the next change).
  */
object BenchSession {

  /** AQE initial reducer count, derived from the INPUT SCALE when the
    * operator does not pin it: `max(cpus, inputBytes / 48 MB)` (capped at
    * 4096). The deep rungs previously relied on every rung driver
    * exporting SPARK_GRAFT_INITIAL_REDUCERS — a missing export silently
    * reverted sf100's 600M-row fact shuffles to ~cpus reducers and the
    * 19M-row-partition spill (BENCH_NOTES r15, q_tpch_q21 246 s). The
    * derivation reproduces the measured-good values from the data alone:
    * sf0.1 (18 MB) → cpus (the official bench keeps its BENCH_REF
    * comparability), sf1/sf10 → cpus, sf100 (~12 GB on disk) → ~256 ≈ the
    * hand-tuned 8× setting. The env knob still overrides both ways.
    *
    * `conf` is the session's Hadoop configuration, so an sf directory on a
    * filesystem configured only through `spark.hadoop.*` settings sizes
    * like a local one. A missing directory gives `cpus`; an unreadable one
    * gives `cpus` with a warning naming it.
    */
  def derivedInitialReducers(sfDir: String, cpus: Int, conf: Configuration): Int = {
    val bytes =
      try {
        val p = new Path(sfDir)
        val fs = p.getFileSystem(conf)
        if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
      } catch { case e: java.io.IOException =>
        System.err.println(s"[bench] cannot size $sfDir for the initial " +
          s"reducer count, using $cpus: $e")
        0L
      }
    math.min(4096L, math.max(cpus.toLong, bytes / (48L * 1024 * 1024))).toInt
  }

  /** Build the bench session. Every config here is scale-adaptive or a
    * correctness setting — see the per-key comments; the local defaults
    * keep the driver's sf0.1 bench comparable across rounds.
    */
  def build(sfDir: String, cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // without this, a large initial reducer count leaks VERBATIM into
      // every persisted frame (AQE may not re-partition a cached plan's
      // output by default) — measured 256 partitions on a 35k-row cached
      // feature table, trainLogistic 9.9 -> 1.5 s warm
      // (OPTIMIZATION_r15.md). Letting AQE size cached output is
      // scale-adaptive in both directions.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      // post-shuffle coalesce policy: `true` (the Spark default) coalesces
      // only down to minPartitionSize to maximize parallelism; `false`
      // respects advisoryPartitionSizeInBytes. `false` showed no win in the
      // r16 A/B (BENCH_NOTES.md); FloorProbe flips it in its own session.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // real 100 TB inputs arrive as MANY files and scan with one task per
      // split; the fixtures are one file per table, so the default 128 MB
      // split makes every first stage serial no matter the scale rung. A
      // 2 MB split restores data-proportional scan parallelism wherever
      // the file has multiple row groups (the scale_up rungs; the driver's
      // own sf* files are single-row-group and unaffected, so official
      // sf0.1 numbers stay comparable to BENCH_REF).
      .config("spark.sql.files.maxPartitionBytes", s"${2 * 1024 * 1024}")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // AQE initial reducer count: the env knob wins; otherwise derived
    // from the input scale (cpus at the local rungs, ~256 at sf100 — see
    // derivedInitialReducers), sized through the session's Hadoop conf,
    // so it is set once the session exists. The r15 unconditional 8×
    // default cost the official sf0.1 bench ~13% across the
    // exchange-heavy gates (OPTIMIZATION_r15.md): every map task writes
    // 8× the shuffle buckets for data that coalesces back to ~cores
    // anyway.
    spark.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      sys.env.getOrElse("SPARK_GRAFT_INITIAL_REDUCERS",
        derivedInitialReducers(sfDir, cpus.toInt,
          spark.sparkContext.hadoopConfiguration).toString))
    spark
  }
}
