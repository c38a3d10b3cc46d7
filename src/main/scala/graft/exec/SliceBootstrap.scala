package graft.exec

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.aql.{Catalog, TableDef}
import graft.ingest.{Archiver, PartitionSwap}

/** Slice bootstrap for the broker tier — the role the reference's
  * datanode bootstrap plays when an instance is added or replaced
  * (/root/reference/memstore/bootstrap.go:49-225 fetches a table shard's
  * batches from a peer into local storage and marks the shard
  * bootstrapped; /root/reference/datanode/bootstrap_manager.go drives
  * it on membership change). In this engine a slice's authoritative
  * bytes live in the shared day-partitioned archive, so "bootstrap" is a
  * day-range copy job instead of a gRPC batch stream: the replacement
  * instance copies its slice's day partitions into its own storage,
  * builds a catalog over the local copy, and registers into the
  * [[BrokerTopology]] — after which the broker's next fan-out gets
  * answers identical to the member it replaced (`SliceBootstrapSpec`).
  *
  * Idempotent and restart-safe like the reference's
  * `IsDiskDataAvailable` check: day partitions already complete locally
  * are skipped, so a crashed bootstrap re-runs to completion. All I/O
  * goes through the Hadoop FileSystem of the paths, so the same job
  * copies from an object store on a real deployment.
  *
  * At 100 TB a slice copy is one distcp-shaped job per replacement —
  * bounded by the slice's share of the table, touched once; the
  * alternative (serving the slice straight from shared storage) is the
  * zero-copy fast path the catalog already supports, and this job
  * exists for deployments that want instance-local storage, exactly the
  * split the reference's `needPeerCopy` flag encodes.
  */
object SliceBootstrap {

  /** Path-segment guard for names received off the wire (the peer's day
    * and file lists) — the mirror of [[graft.api.GraftServer]]'s serving-
    * side guard: reject separators and dot segments so a malicious peer
    * cannot steer writes outside the local storage dir.
    */
  private def safeSegment(s: String): String = {
    require(s.nonEmpty && !s.contains('/') && !s.contains('\\') &&
      s != "." && s != "..", s"illegal path segment from peer: '$s'")
    s
  }

  /** Copy the day partitions of `sharedArchiveDir` with
    * `fromDay <= day < toDay` (either bound open) into `localDir`.
    * Returns the days copied NOW — days already present locally are
    * skipped (idempotent re-run), days in flight are written to a
    * temporary name and renamed so a crash never leaves a half partition
    * that a re-run would skip.
    */
  def copySlice(spark: SparkSession, sharedArchiveDir: String, localDir: String,
      fromDay: Option[String] = None, toDay: Option[String] = None): Seq[String] =
    copyMatching(spark, sharedArchiveDir, localDir,
      day => fromDay.forall(day >= _) && toDay.forall(day < _))

  /** Shared copy loop for [[copySlice]] / [[copyDays]]: every day the
    * predicate admits lands with the idempotence + crash discipline
    * (present days skip; in-flight days stage and swap in through
    * [[PartitionSwap]]).
    */
  private def copyMatching(spark: SparkSession, sharedArchiveDir: String,
      localDir: String, wanted: String => Boolean): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new Path(sharedArchiveDir)
    val dst = new Path(localDir)
    val srcFs = src.getFileSystem(conf)
    val dstFs = dst.getFileSystem(conf)
    require(srcFs.exists(src), s"shared archive $sharedArchiveDir does not exist")
    dstFs.mkdirs(dst)
    def part(day: String) = s"${Archiver.DayCol}=$day"
    localDays(spark, sharedArchiveDir)
      .filter(day => wanted(day) && !dstFs.exists(new Path(dst, part(day))))
      .map { day =>
        FileUtil.copy(srcFs, new Path(src, part(day)), dstFs,
          PartitionSwap.stage(dstFs, dst, part(day)), false, conf)
        PartitionSwap.install(dstFs, dst, Seq(part(day)))
        day
      }
  }

  /** Bootstrap a slice FROM A LIVE PEER over HTTP instead of shared
    * storage — the reference's peer bootstrap source
    * (/root/reference/datanode/bootstrap/peer_source.go streams a
    * shard's batches from a replica holding the data;
    * bootstrap_manager.go picks peer vs disk by availability). Used by
    * deployments with instance-local storage only: the replacement asks
    * any replica of its slice for the day list, pulls each in-range
    * day's parquet files through the peer's `/bootstrap` surface
    * ([[graft.api.GraftServer]]), and lands them with the SAME
    * discipline as [[copySlice]] — present days skip (idempotent),
    * in-flight days write to a temp dir and rename (crash-safe).
    *
    * At 100 TB the transfer is day-partition-granular and resumable;
    * the peer serves file bytes straight off its archive (no decode /
    * re-encode round trip — the wire unit is the parquet file itself,
    * like the reference streams raw batch vectors).
    */
  /** @param requestTimeout bound on EVERY peer interaction (connect and
    *   per-request): a peer that accepts connections but never answers
    *   must fail the bootstrap loudly so automation retries another
    *   replica — an unbounded client would hang the replacement forever
    *   with no signal
    */
  def copySliceFromPeer(spark: SparkSession, peerUrl: String, table: String,
      localDir: String, fromDay: Option[String] = None,
      toDay: Option[String] = None,
      requestTimeout: java.time.Duration =
        java.time.Duration.ofSeconds(120)): Seq[String] = {
    import java.net.URI
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    val client = HttpClient.newBuilder().connectTimeout(requestTimeout).build()
    def get(path: String) = HttpRequest.newBuilder(URI.create(s"$peerUrl$path"))
      .timeout(requestTimeout).GET().build()
    // 503 = the peer's bounded bootstrap admission class is full (other
    // transfers in flight) — back off and retry instead of aborting the
    // whole bootstrap; any other non-200 is fatal
    def sendRetrying[T](path: String,
        handler: HttpResponse.BodyHandler[T]): HttpResponse[T] = {
      var waitMs = 1000L
      var waited = 0L
      while (true) {
        val resp = client.send(get(path), handler)
        if (resp.statusCode() != 503) return resp
        // drain the rejected attempt's body BEFORE backing off — with the
        // InputStream handler each 503 otherwise leaks an open connection
        // for the whole retry loop
        resp.body() match {
          case c: java.io.Closeable => try c.close() catch { case _: Throwable => () }
          case _ => ()
        }
        if (waited >= requestTimeout.toMillis) throw new java.io.IOException(
          s"peer $peerUrl$path still at capacity after ${waited}ms")
        Thread.sleep(waitMs)
        waited += waitMs
        waitMs = math.min(waitMs * 2, 15000L)
      }
      throw new IllegalStateException("unreachable")
    }
    def fetchList(path: String): Seq[String] = {
      val resp = sendRetrying(path, HttpResponse.BodyHandlers.ofString())
      require(resp.statusCode() == 200,
        s"peer $peerUrl$path returned ${resp.statusCode()}: ${resp.body().take(200)}")
      org.json4s.jackson.JsonMethods.parse(resp.body())
        .children.collect { case org.json4s.JString(s) => s }
    }
    val watchdog = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      r => { val t = new Thread(r, "graft-bootstrap-watchdog"); t.setDaemon(true); t })
    // file bodies STREAM to disk (InputStream body handler) — a day's
    // parquet file can be hundreds of MB and must never sit in a byte[].
    // The HTTP request timeout only covers up to the response HEADERS, so
    // the body copy gets its own deadline: a watchdog closes the stream
    // if the transfer outlives `requestTimeout`, turning a peer frozen
    // mid-body into a loud IOException instead of a silent forever-hang
    def fetchTo(path: String, out: java.io.OutputStream): Unit = {
      val resp = sendRetrying(path, HttpResponse.BodyHandlers.ofInputStream())
      val in = resp.body()
      val killer = watchdog.schedule(new Runnable {
        def run(): Unit = try in.close() catch { case _: Throwable => () }
      }, requestTimeout.toMillis, java.util.concurrent.TimeUnit.MILLISECONDS)
      try {
        require(resp.statusCode() == 200, s"peer $peerUrl$path returned ${resp.statusCode()}")
        in.transferTo(out)
      } catch {
        case e: java.io.IOException if killer.isDone =>
          throw new java.io.IOException(
            s"peer $peerUrl$path body transfer exceeded ${requestTimeout.toMillis}ms", e)
      } finally {
        killer.cancel(false)
        in.close()
      }
    }

    try {
      val dst = new Path(localDir)
      val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(dst)
      val copied = Seq.newBuilder[String]
      // peer-supplied names index into the LOCAL filesystem — a
      // compromised peer returning '../..'-shaped day or file names must
      // not write outside localDir (Hadoop Path resolves dot segments),
      // so every received name passes the same guard the serving side
      // applies to its own inputs
      fetchList(s"/bootstrap/$table/days").map(safeSegment).sorted.foreach { day =>
        val inRange = fromDay.forall(day >= _) && toDay.forall(day < _)
        val part = s"${Archiver.DayCol}=$day"
        if (inRange && !fs.exists(new Path(dst, part))) {
          val staged = PartitionSwap.stage(fs, dst, part)
          fs.mkdirs(staged)
          fetchList(s"/bootstrap/$table/$day/files").map(safeSegment).foreach { f =>
            val out = fs.create(new Path(staged, f), true)
            try fetchTo(s"/bootstrap/$table/$day/$f", out) finally out.close()
          }
          PartitionSwap.install(fs, dst, Seq(part))
          copied += day
        }
      }
      copied.result()
    } finally watchdog.shutdown()
  }

  /** Copy an EXPLICIT day set (rather than a range) from the shared
    * archive into `localDir` — the rebalance primitive: a recomputed
    * ownership map hands each member a day list, not a range. Same
    * discipline as [[copySlice]]: already-present days skip (idempotent),
    * in-flight copies write to a temp name and rename.
    */
  def copyDays(spark: SparkSession, sharedArchiveDir: String, localDir: String,
      days: Set[String]): Seq[String] =
    copyMatching(spark, sharedArchiveDir, localDir, days.contains)

  /** Delete local day partitions NOT in `keep` — the drop half of a
    * rebalance (a moved day must leave its old owner, or the broker
    * would double count it). Returns the days dropped. The shared
    * archive is never touched — only the member's local copy shrinks.
    *
    * UNGUARDED: deletes whatever `keep` excludes, trusting the caller
    * that every excluded day is replicated elsewhere. The rebalance job
    * itself uses [[SliceRebalance.retainDaysGuarded]], which refuses to
    * delete a day partition whose files the shared archive does not
    * hold — prefer that variant whenever locally-drained data could be
    * present.
    */
  def retainDays(spark: SparkSession, localDir: String,
      keep: Set[String]): Seq[String] =
    SliceRebalance.retainDaysGuarded(spark, localDir, keep, _ => true)._1

  /** Days present in a (local or shared) archive directory — the
    * bootstrap observability surface (`IsBootstrapped` analog: a
    * replacement is ready when its local days cover its slice range).
    */
  def localDays(spark: SparkSession, dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Nil
    val prefix = s"${Archiver.DayCol}="
    fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith(prefix)).map(_.stripPrefix(prefix)).sorted.toSeq
  }

  /** `base` with its `events` fact table re-pointed at the bootstrapped
    * local copy — same schema (the partition column is re-inferred from
    * the identical layout), same day pruning, different storage root.
    */
  def eventsCatalog(base: Catalog, localDir: String): Catalog = {
    val ev = base.tables("events")
    base.copy(tables = base.tables +
      ("events" -> ev.copy(load = loadLocal(localDir, ev))))
  }

  private def loadLocal(dir: String, ev: TableDef): SparkSession => DataFrame =
    s => graft.Tables.parquet(s, dir)
}
