package graft.operators

import org.apache.spark.sql.DataFrame

/** Session-scoped staging for eager operator results.
  *
  * An operator that consumes one intermediate several times (the
  * per-user event-type sets of `Sessions.coOccurrenceLift`) materializes it
  * instead of caching it. A cached LAZY frame would stay pinned for the
  * caller's lifetime — the caller may materialize (or re-materialize) at
  * any point, so the operator could never safely unpersist, and a
  * long-lived server would accumulate cached frames monotonically.
  * Instead the SMALL result takes one parquet round-trip under
  * `target/graft-staged/<jvm>`, and the returned frame is a plain parquet
  * scan with no cache footprint.
  *
  * This mirrors the production shape — stage outputs land on storage at
  * job boundaries (the reference archives its batches the same way,
  * /root/reference/memstore/archiving.go:59-141). Staged results are
  * bounded (per-user sets, never the event stream); the per-JVM directory
  * is removed on exit.
  */
object Staged {
  // The staging root is created AND removed through the Hadoop FileSystem
  // of the path (resolved from the live session's hadoopConfiguration):
  // the parquet writes below land on the DEFAULT FS, so a driver-local
  // java.nio cleanup would leak every staged result on any deployment
  // whose default FS is not the driver's local disk — the long-lived
  // server scenario this staging design exists for.
  @volatile private var rootPath: String = _
  private val rootLock = new Object
  private def root(spark: org.apache.spark.sql.SparkSession): String = {
    if (rootPath == null) rootLock.synchronized {
      if (rootPath == null) {
        val dir = java.nio.file.Paths
          .get("target", "graft-staged", java.util.UUID.randomUUID().toString)
          .toAbsolutePath.toString
        val hPath = new org.apache.hadoop.fs.Path(dir)
        val conf = spark.sparkContext.hadoopConfiguration
        hPath.getFileSystem(conf).mkdirs(hPath)
        sys.addShutdownHook {
          try hPath.getFileSystem(conf).delete(hPath, true)
          catch { case _: Throwable => () }
        }
        rootPath = dir
      }
    }
    rootPath
  }
  private val seq = new java.util.concurrent.atomic.AtomicLong()

  /** Materialize `df` (a SMALL result frame) to staging and return a
    * self-contained scan of it. Parquet round-trips every Spark SQL type
    * the operators emit (long/double/string/bool) exactly.
    */
  def materialize(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val path = s"${root(spark)}/s${seq.incrementAndGet()}"
    df.write.mode("overwrite").parquet(path)
    // a zero-partition frame writes only _SUCCESS; fall back to an empty
    // frame with the original schema rather than failing schema inference.
    // The existence check goes through the HADOOP filesystem of the path
    // (like the streaming store's listings) — the write itself resolves
    // through it, and a driver-local java.nio listing would silently see
    // an empty directory on any deployment whose default FS is not the
    // driver's local disk, turning results into empty frames.
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasData = fs.exists(hPath) &&
      fs.listStatus(hPath).exists(_.getPath.getName.startsWith("part-"))
    if (hasData) spark.read.schema(df.schema).parquet(path)
    else spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), df.schema)
  }
}
