package servebench

import java.net.{InetSocketAddress, URI}
import java.net.http.{HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.scheduler._

/** A timed interval at a layer boundary. `parent` is the id of the span
  * that caused it (0 = none); spans of one request share `req`.
  */
final case class Span(id: Long, name: String, start: Long, end: Long, parent: Long, req: Long,
    attrs: Map[String, Any] = Map.empty) {
  def ms: Double = (end - start) / 1e6
}

/** In-memory span buffer, written out when the run ends. */
final class Spans {
  private val ids = new AtomicLong(0)
  val all = new ConcurrentLinkedQueue[Span]()
  def nextId(): Long = ids.incrementAndGet()
  def add(name: String, start: Long, end: Long, parent: Long = 0, req: Long = 0,
      attrs: Map[String, Any] = Map.empty): Span = {
    val s = Span(nextId(), name, start, end, parent, req, attrs)
    all.add(s)
    s
  }

  def write(path: java.nio.file.Path): Unit = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    def jv(a: Any): JValue = a match {
      case d: Double => JDouble(d)
      case l: Long => JLong(l)
      case i: Int => JLong(i)
      case s: String => JString(s)
      case other => JString(String.valueOf(other))
    }
    val lines = all.asScala.toSeq.sortBy(_.start).map { s =>
      JsonMethods.compact(JsonMethods.render(JObject(
        List("id" -> JLong(s.id), "name" -> JString(s.name), "start_ns" -> JLong(s.start),
          "end_ns" -> JLong(s.end), "parent" -> JLong(s.parent), "req" -> JLong(s.req)) ++
          s.attrs.toList.sortBy(_._1).map { case (k, v) => k -> jv(v) })))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }

  /** Length of `span` not covered by any of `children` (its self time). */
  def selfMs(span: Span, children: Seq[Span]): Double = {
    val cs = children.map(c => (math.max(c.start, span.start), math.min(c.end, span.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    cs.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    (span.end - span.start - covered) / 1e6
  }
}

/** Spark work done over an interval, from task and job events. */
final case class Work(jobs: Long, stages: Long, tasks: Long, taskMs: Double, cpuMs: Double,
    shuffleBytes: Long, spillBytes: Long, inputRows: Long) {
  def -(o: Work): Work = Work(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskMs - o.taskMs, cpuMs - o.cpuMs, shuffleBytes - o.shuffleBytes,
    spillBytes - o.spillBytes, inputRows - o.inputRows)
  def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    taskMs + o.taskMs, cpuMs + o.cpuMs, shuffleBytes + o.shuffleBytes,
    spillBytes + o.spillBytes, inputRows + o.inputRows)
}

/** Spark work counters, with each job's interval kept as a span. */
final class SparkCounters(spans: Spans) extends SparkListener {
  // epoch milliseconds -> the nanoTime domain the other spans use
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  @volatile private var t = Work(0, 0, 0, 0, 0, 0, 0, 0)

  def totals: Work = synchronized(t)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStarts.put(e.jobId, e.time * 1000000L - offsetNs)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val start = Option(jobStarts.remove(e.jobId))
    start.foreach(s => spans.add("spark.job", s, e.time * 1000000L - offsetNs))
    synchronized { t = t.copy(jobs = t.jobs + 1) }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { t = t.copy(stages = t.stages + 1) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      t = t.copy(tasks = t.tasks + 1,
        taskMs = t.taskMs + m.executorRunTime,
        cpuMs = t.cpuMs + m.executorCpuTime / 1e6,
        shuffleBytes = t.shuffleBytes + m.shuffleWriteMetrics.bytesWritten,
        spillBytes = t.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
        inputRows = t.inputRows + m.inputMetrics.recordsRead)
    }
  }
}

/** Recording HTTP relay in front of one member: every call becomes a
  * `member` span with the member index, status and the request body.
  */
final class Relay(spans: Spans, member: Int, target: String) {
  private val server = HttpServer.create(new InetSocketAddress("localhost", 0), 0)
  private val pool = java.util.concurrent.Executors.newCachedThreadPool { r =>
    val th = new Thread(r, s"servebench-relay-$member"); th.setDaemon(true); th
  }
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => {
    try {
      val body = ex.getRequestBody.readAllBytes()
      val t0 = System.nanoTime()
      val b = HttpRequest.newBuilder(URI.create(target + ex.getRequestURI.toString))
        .timeout(java.time.Duration.ofSeconds(120))
      Seq("Content-Type", "Accept").foreach(h =>
        Option(ex.getRequestHeaders.getFirst(h)).foreach(b.header(h, _)))
      val resp = Http.client.send(
        b.method(ex.getRequestMethod, HttpRequest.BodyPublishers.ofByteArray(body)).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      val t1 = System.nanoTime()
      spans.add("member", t0, t1, attrs = Map("member" -> member, "status" -> resp.statusCode(),
        "accept" -> Option(ex.getRequestHeaders.getFirst("Accept")).getOrElse(""),
        "body" -> new String(body, StandardCharsets.UTF_8), "bytes" -> resp.body().length))
      resp.headers().map().asScala.foreach { case (k, vs) =>
        if (k.toLowerCase.startsWith("x-graft") || k.equalsIgnoreCase("content-type"))
          vs.asScala.foreach(ex.getResponseHeaders.add(k, _))
      }
      ex.sendResponseHeaders(resp.statusCode(), resp.body().length.toLong)
      ex.getResponseBody.write(resp.body())
    } catch {
      case scala.util.control.NonFatal(e) =>
        spans.add("member", System.nanoTime(), System.nanoTime(),
          attrs = Map("member" -> member, "status" -> -1))
        ex.sendResponseHeaders(502, -1)
    } finally ex.close()
  })
  server.start()
  val url = s"http://localhost:${server.getAddress.getPort}"
  def stop(): Unit = { server.stop(0); pool.shutdown() }
}

/** JVM collector time, summed over every collector. */
object Gc {
  def totalMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
}
