package servebench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Serving benchmark: AQL through the broker to three members, wide
  * scans, and upserts beside queries. See README.md in this directory.
  *
  * Usage: Main --workload dash|scan|ingest --seed N --seconds S --trace 0|1
  *   --work DIR [--smoke 1] [--commit SHA] [--source HASH]
  *
  * The JVM's working directory is a fresh per-run root: the archive the
  * program builds lands under it. The last stdout line is the result
  * JSON; the exit code is 1 when a correctness check failed.
  */
object Main {
  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
      smoke: Boolean, work: Path, input: Path, events: Long, inputGenSecs: Double,
      commit: String, source: String)

  /** Upsert batches offered per second, rows per batch, drain period. */
  val IngestRate = 0.5
  val IngestRows = 200
  val DrainEverySec = 8.0
  val SetupReps = 2
  /** Untimed warm-up passes of the query client on dash and scan; the JVM
    * is still getting faster after one dash pass.
    */
  val WarmupPasses = Map("dash" -> 2, "scan" -> 1)
  /** About how long one timed pass through the pool takes on a 4-vCPU host.
    * A timed run is a fixed number of whole passes, enough to fill
    * `--seconds` there, so every request is timed equally often and a
    * faster host does not get more, and warmer, passes than a slower one.
    */
  val PassSecs = Map("dash" -> 3.2, "scan" -> 5.0)

  /** Per-layer metrics of a traced run, in output order. A layer the
    * workload does not exercise (no upserts on scan) reads 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "aql.parse_ms" -> "ms", "aql.compile_ms" -> "ms", "catalyst.plan_ms" -> "ms",
    "spark.jobs_per_req" -> "count", "spark.stages_per_req" -> "count",
    "spark.tasks_per_req" -> "count", "spark.task_ms_per_req" -> "ms",
    "spark.task_cpu_ms_per_req" -> "ms", "spark.shuffle_bytes_per_req" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.input_rows_per_result_row" -> "ratio",
    "exec.shape_self_ms" -> "ms", "exec.result_rows_per_req" -> "count",
    "exec.response_bytes_per_req" -> "bytes", "replay.member_ms" -> "ms",
    "api.member_p50_ms" -> "ms", "api.member_p90_ms" -> "ms", "api.http_ms" -> "ms",
    "broker.self_ms" -> "ms", "broker.fanout_per_req" -> "count",
    "broker.member_skew" -> "ratio", "broker.retries" -> "count",
    "ingest.jobs_per_batch" -> "count", "ingest.task_ms_per_batch" -> "ms",
    "ingest.drain_ms" -> "ms", "ingest.drains" -> "count",
    "ingest.journal_bytes_per_user_byte" -> "ratio", "store.bytes_per_user_byte" -> "ratio",
    "ingest.overlay_storage_mb" -> "MB", "ingest.gen_late_p90_ms" -> "ms",
    "jvm.gc_ms_per_s" -> "ms/s", "trace.p50_ms" -> "ms", "trace.qps" -> "1/s")

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val conf = Conf(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", kv.getOrElse("smoke", "0") == "1",
      Paths.get(kv("work")).toAbsolutePath, Paths.get(kv("input")).toAbsolutePath,
      kv("events").toLong, kv.getOrElse("input-gen-s", "0").toDouble, kv.getOrElse("commit", "unknown"),
      kv.getOrElse("source", "unknown"))
    require(Set("dash", "scan", "ingest").contains(conf.workload), s"unknown workload ${conf.workload}")
    val code = try run(conf) catch {
      case e: Throwable =>
        e.printStackTrace()
        2
    }
    System.out.flush()
    System.exit(code)
  }

  def run(c: Conf): Int = {
    val nproc = Runtime.getRuntime.availableProcessors()
    val phases = mutable.ArrayBuffer.empty[(String, Double, String)]
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases += ((s"phase_${name}_s", (now - mark) / 1e9, "s"))
      mark = now
    }
    val spark = graft.BenchSession.build(c.input.toString, nproc.toString)
    spark.sparkContext.setLogLevel("ERROR")
    val spans = new Spans
    val counters = if (c.trace) Some(new SparkCounters(spans)) else None
    counters.foreach(spark.sparkContext.addSparkListener)

    phase("session")
    val canaryBefore = graft.Bench.canary()
    phase("canary")
    val pool = c.workload match {
      case "dash" => Requests.dash(c.seed)
      case "scan" => Requests.scan(c.seed)
      case _ => Requests.recent(c.seed)
    }
    val runRoot = Paths.get("").toAbsolutePath
    val problems = mutable.ArrayBuffer.empty[String]
    val relays = mutable.ArrayBuffer.empty[Relay]
    val relay = if (c.trace) Some((i: Int, url: String) => {
      val r = new Relay(spans, i, url); relays += r; r.url
    }) else None

    // set-up from a fresh program state, repeated; the last one serves
    val reps = if (c.smoke) 1 else SetupReps
    val setupSecs = mutable.ArrayBuffer.empty[Double]
    var topo: Topology = null
    (1 to reps).foreach { i =>
      if (topo != null) topo.stop()
      val t0 = System.nanoTime()
      val input = Inputs.linkInto(c.input, runRoot.resolve(s"setup$i/input"))
      topo = new Topology(spark, input, runRoot.resolve(s"setup$i/state"),
        journals = c.workload == "ingest", relay)
      val (status, body) = Http.post(topo.brokerUrl, Requests.warm)
      setupSecs += (System.nanoTime() - t0) / 1e9
      if (status != 200 || Check.firstResult(body).isLeft)
        problems += s"set-up request failed: $status ${body.take(200)}"
    }

    phase("setups")
    // untimed answer check: broker vs one instance over the unsliced catalog
    if (c.workload != "ingest") {
      val single = new graft.api.GraftServer(topo.base, spark)
      single.start()
      val singleUrl = s"http://localhost:${single.boundPort}/query/aql"
      val checkers = java.util.concurrent.Executors.newFixedThreadPool(4)
      val calls = pool.map { r =>
        val call = (url: String) => java.util.concurrent.CompletableFuture.supplyAsync(
          () => Http.post(url, r.body), checkers)
        (r, call(topo.brokerUrl), call(singleUrl))
      }
      calls.foreach { case (r, broker, one) =>
        val ((bs, bb), (ss, sb)) = (broker.join(), one.join())
        (Check.firstResult(bb), Check.firstResult(sb)) match {
          case (Right(x), Right(y)) => Check.diff(x, y).foreach(d => problems += s"${r.name}: $d")
          case (x, y) => problems += s"${r.name}: broker $bs ${x.left.getOrElse("")} single $ss ${y.left.getOrElse("")}"
        }
      }
      checkers.shutdown()
      single.stop()
    }

    phase("check")
    if (c.workload != "ingest")
      new ClosedLoop(topo.brokerUrl, pool).passes(if (c.smoke) 1 else WarmupPasses(c.workload))
    phase("warmup")
    val gc0 = Gc.totalMs
    val t0 = System.nanoTime()
    val timed = c.workload match {
      case "ingest" => ingest(spark, topo, c, pool, counters.isDefined)
      case w =>
        val loop = new ClosedLoop(topo.brokerUrl, pool)
        Timed(loop.passes(math.max(1, math.ceil(c.seconds / PassSecs(w)).toInt)), loop.activeSecs)
    }
    val t1 = System.nanoTime()
    val elapsed = (t1 - t0) / 1e9
    val gcMs = Gc.totalMs - gc0
    phase("timed")

    val layers = mutable.ArrayBuffer.empty[(String, Double, String)]
    counters.foreach { cs =>
      val memberSpans = spans.all.asScala
        .filter(s => s.name == "member" && s.start >= t0 && s.end <= t1).toSeq
      val att = new Attribution(spark, topo, spans, cs)
      val traces = pool.map(att.request)
      if (traces.exists(!_.ok)) problems += "attribution pass request failed"
      layers ++= QueryLayers.metrics(traces)
      layers += (("api.member_p50_ms", Stats.pct(memberSpans.map(_.ms), 50), "ms"))
      layers += (("api.member_p90_ms", Stats.pct(memberSpans.map(_.ms), 90), "ms"))
      layers += (("broker.retries", (memberSpans.count(_.attrs.get("status").exists(_ != 200)) +
        traces.map(_.retries).sum).toDouble, "count"))
      layers += (("jvm.gc_ms_per_s", gcMs / elapsed, "ms/s"))
      layers ++= timed.ingestLayers(att)
    }
    phase("attribution")
    timed.finish().foreach(problems += _)

    System.gc(); System.gc()
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val canaryAfter = graft.Bench.canary()
    relays.foreach(_.stop())
    topo.stop()
    phase("finish")

    val queries = timed.queries
    val ok = queries.filter(_.ok).map(_.latencyMs)
    val acks = timed.acks
    val acked = acks.filter(_.ok).map(_.latencyMs)
    val qps = queries.count(_.ok) / timed.querySecs
    val all = timed.samples
    // p50_ms: the workload's own operation -- a query, or on ingest an upsert ack
    val e2e = Seq(
      ("setup_s", Stats.median(setupSecs.toSeq), "s"),
      ("qps", qps, "1/s"),
      ("p50_ms", Stats.pct(if (c.workload == "ingest") acked else ok, 50), "ms"),
      ("heap_live_mb", heapMb, "MB"))
    val detail = Seq(
      ("queries", queries.size.toDouble, "count"),
      ("query_p50_ms", Stats.pct(ok, 50), "ms"),
      ("query_p90_ms", Stats.pct(ok, 90), "ms"),
      ("acks", acks.size.toDouble, "count"),
      ("ack_p50_ms", Stats.pct(acked, 50), "ms"),
      ("ack_p90_ms", Stats.pct(acked, 90), "ms"),
      ("gen_late_p90_ms", Stats.pct(acks.map(_.lateMs), 90), "ms"),
      ("elapsed_s", elapsed, "s")) ++ setupSecs.zipWithIndex.map { case (s, i) => (s"setup_${i + 1}_s", s, "s") } ++ phases
    val context = Map[String, Any]("workload" -> c.workload, "seed" -> c.seed, "nproc" -> nproc,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576, "commit" -> c.commit,
      "source_sha1" -> c.source, "offered_batches_per_s" -> (if (c.workload == "ingest") IngestRate else 0.0),
      "rows_per_batch" -> IngestRows, "input_events" -> c.events, "input_gen_s" -> c.inputGenSecs, "seconds" -> c.seconds,
      "canary_before_s" -> canaryBefore, "canary_after_s" -> canaryAfter, "trace" -> c.trace,
      "problems" -> problems.mkString(" | "))
    if (c.trace) {
      layers += (("trace.p50_ms", Stats.pct(if (c.workload == "ingest") acked else ok, 50), "ms"))
      layers += (("trace.qps", qps, "1/s"))
      spans.write(c.work.resolve(s"traces/${c.workload}-seed${c.seed}.jsonl"))
    }
    problems.foreach(p => System.err.println(s"[servebench] CHECK FAILED: $p"))
    println(Result.context(context, detail))
    val measured = layers.map { case (n, v, _) => n -> v }.toMap
    val perLayer = PerLayer.map { case (n, u) =>
      (n, measured.get(n).filterNot(_.isNaN).getOrElse(0.0), u)
    }
    println(Result.json(problems.isEmpty, all.size.toLong, all.count(!_.ok).toLong,
      if (c.trace) perLayer else e2e))
    spark.stop()
    if (problems.isEmpty) 0 else 1
  }

  /** What a timed phase produced; ingest adds its layers and final check. */
  case class Timed(samples: Seq[Sample], querySecs: Double,
      ingestLayers: Attribution => Seq[(String, Double, String)] = _ => Nil,
      finish: () => Option[String] = () => None) {
    def queries: Seq[Sample] = samples.filter(_.kind == "query")
    def acks: Seq[Sample] = samples.filter(_.kind == "ack")
  }

  /** Upserts on schedule, one query client, periodic drains; then a final
    * drain and the model check. A traced run also sends a few batches one
    * at a time and measures journal and archive bytes per user byte.
    */
  def ingest(spark: SparkSession, topo: Topology, c: Conf, pool: IndexedSeq[Req],
      traced: Boolean): Timed = {
    val gen = new UpsertGen(spark, topo.dir, c.seed, if (c.smoke) 20 else IngestRows)
    val producer = new Producer(topo, gen, IngestRate)
    val drainer = new Drainer(topo, if (c.smoke) 2.0 else DrainEverySec)
    var overlayMb = 0.0
    def sampleOverlay(): Unit = {
      val mb = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
      overlayMb = math.max(overlayMb, mb)
    }
    if (traced) drainer.beforeRound = () => sampleOverlay()
    // untimed warm-up: one batch into a day of each member, so each has
    // built its overlay before the first timed batch
    Seq(Inputs.Days / 6, Inputs.Days / 2, Inputs.Days - 1).foreach { d =>
      val (_, status, _) = producer.sendOne(Some(d))
      if (status != 200) Stats.failed(s"warm-up batch for day $d", status.toString)
    }
    val client = new ClosedLoop(topo.brokerUrl, pool)
    client.start()
    drainer.start()
    producer.run(c.seconds)
    val queries = client.stop()
    producer.awaitAcks()
    drainer.stop()
    if (traced) sampleOverlay()
    val timedDrains = drainer.drains.asScala.toSeq
    drainer.drainAll()
    val samples = producer.samples.asScala.toSeq ++ queries

    def layers(att: Attribution): Seq[(String, Double, String)] = {
      // batches one at a time, each alone on the session
      def dirBytes(p: Path): Long =
        if (!Files.exists(p)) 0L
        else { val s = Files.walk(p); try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close() }
      val journalRoot = topo.stateRootPath.resolve("journal")
      val archiveRoot = topo.stateRootPath.resolve("archive")
      val flush = () => org.apache.spark.servebench.ListenerBus.flush(spark.sparkContext)
      val cs = att.counters
      val serial = (1 to 5).map { _ =>
        flush(); val w0 = cs.totals; val j0 = dirBytes(journalRoot)
        val (_, status, bytes) = producer.sendOne()
        flush()
        (cs.totals - w0, dirBytes(journalRoot) - j0, bytes, status)
      }
      val userBytes = serial.map(_._3).sum.toDouble
      val drainStart = System.currentTimeMillis() - 1000
      drainer.drainAll()
      val stored = {
        val s = Files.walk(archiveRoot)
        try s.iterator.asScala.filter(p => Files.isRegularFile(p) &&
          Files.getLastModifiedTime(p).toMillis >= drainStart && !p.toString.contains("/_") &&
          !p.getFileName.toString.startsWith("."))
          .map(Files.size).sum finally s.close()
      }
      Seq(
        ("ingest.jobs_per_batch", Stats.mean(serial.map(_._1.jobs.toDouble)), "count"),
        ("ingest.task_ms_per_batch", Stats.mean(serial.map(_._1.taskMs)), "ms"),
        ("ingest.drain_ms", Stats.median(timedDrains.map(d => (d._3 - d._2) / 1e6)), "ms"),
        ("ingest.drains", timedDrains.size.toDouble, "count"),
        ("ingest.journal_bytes_per_user_byte", serial.map(_._2).sum / userBytes, "ratio"),
        ("store.bytes_per_user_byte", stored / userBytes, "ratio"),
        ("ingest.overlay_storage_mb", overlayMb, "MB"),
        ("ingest.gen_late_p90_ms", Stats.pct(producer.samples.asScala.toSeq.map(_.lateMs), 90), "ms"))
    }
    Timed(samples, client.activeSecs, layers, () => IngestCheck.verify(topo.brokerUrl,
      gen.model(producer.acked.asScala.toSeq)))
  }
}

/** Result lines: the contract's last line, and a context line before it. */
object Result {
  import org.json4s._
  import org.json4s.jackson.JsonMethods

  private def num(v: Double): JValue = if (v.isNaN || v.isInfinite) JNull else JDouble(v)

  def json(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[(String, Double, String)]): String =
    JsonMethods.compact(JsonMethods.render(JObject(
      "correct" -> JBool(correct), "attempted" -> JLong(attempted), "failed" -> JLong(failed),
      "metrics" -> JObject(metrics.toList.map { case (n, v, u) =>
        n -> JObject("value" -> num(v), "unit" -> JString(u)) }))))

  def context(context: Map[String, Any], detail: Seq[(String, Double, String)]): String = {
    def jv(a: Any): JValue = a match {
      case d: Double => num(d)
      case l: Long => JLong(l)
      case i: Int => JLong(i)
      case b: Boolean => JBool(b)
      case o => JString(String.valueOf(o))
    }
    JsonMethods.compact(JsonMethods.render(JObject(
      "context" -> JObject(context.toList.sortBy(_._1).map { case (k, v) => k -> jv(v) }),
      "detail" -> JObject(detail.toList.map { case (n, v, u) =>
        n -> JObject("value" -> num(v), "unit" -> JString(u)) }))))
  }
}
