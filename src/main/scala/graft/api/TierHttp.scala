package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{Executors, Semaphore, TimeUnit}

import scala.util.control.NonFatal

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The HTTP plumbing both serving tiers stand on — an instance
  * ([[GraftServer]]) and the broker ([[graft.exec.BrokerServer]]) — over
  * the JDK's built-in server: a bounded request pool, per-class
  * admission that answers 503, a 400 `{"error": ...}` for a request a
  * handler fails on, and `GET /metrics` over the tier's [[Metrics]].
  *
  * @param serverThreads request pool size. Without an executor the JDK
  *   server runs EVERY exchange on its single dispatcher thread, so one
  *   slow query would serialize the whole tier (the reference provisions
  *   explicit serving concurrency, ares.yaml:17-22). Daemon threads, so a
  *   forgotten stop() cannot pin the JVM.
  * @param admissionSlots the total of every admission class's slots (0 =
  *   no classes). The pool grows to cover them: the executor's queue is
  *   unbounded and admission is checked only once a pool thread picks the
  *   exchange up, so a smaller pool would leave the semaphores
  *   unreachable — excess requests would queue instead of 503ing. Four
  *   more threads keep `/health` and `/metrics` answering at saturation.
  * @param name the tier's name in thread names and the 503 message
  */
final class TierHttp(port: Int, serverThreads: Int, admissionSlots: Int, name: String) {
  require(serverThreads > 0, s"serverThreads $serverThreads must be positive")

  /** The tier's counters, served at GET /metrics. */
  val metrics = new Metrics

  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  private val pool = Executors.newFixedThreadPool(
    math.max(serverThreads, if (admissionSlots > 0) admissionSlots + 4 else 0),
    (r: Runnable) => { val t = new Thread(r, s"graft-$name-http"); t.setDaemon(true); t })
  server.setExecutor(pool)

  // every mounted context path, in mount order — the OpenApiSpec asserts
  // the instance's API description covers each of these
  private val mounted = scala.collection.mutable.ArrayBuffer.empty[String]

  /** Serve `path` with `h`; a failure answers 400 with its message. */
  def mount(path: String)(h: HttpExchange => Unit): Unit = {
    mounted += path
    server.createContext(path, (ex: HttpExchange) =>
      try h(ex)
      catch {
        case NonFatal(e) => respond(ex, 400, JsonMethods.compact(JsonMethods.render(
          JObject("error" -> JString(QueryFront.message(e))))))
      } finally ex.close())
  }

  def routes: Seq[String] = mounted.toList

  /** An admission class of `bound` slots; null when unbounded. */
  def admission(bound: Int): Semaphore = if (bound > 0) new Semaphore(bound) else null

  /** Run `f` in a slot of `slots`. A request that gets none within a
    * short wait is REJECTED with 503 — fail fast beats unbounded queueing
    * at saturation, and the broker's replica failover treats the 503 as
    * a retryable fetch failure and routes around the busy instance.
    */
  def admitted(ex: HttpExchange, slots: Semaphore)(f: => Unit): Unit =
    if (slots == null) f
    else if (!slots.tryAcquire(100, TimeUnit.MILLISECONDS)) {
      metrics.recordRejected()
      respond(ex, 503, s"""{"error":"$name at capacity, retry"}""")
    } else try f finally slots.release()

  def reply(ex: HttpExchange, r: QueryFront.Reply): Unit =
    respondBytes(ex, 200, r.contentType, r.body)

  def respond(ex: HttpExchange, code: Int, body: String): Unit =
    respondBytes(ex, code, "application/json", body.getBytes(StandardCharsets.UTF_8))

  def respondBytes(ex: HttpExchange, code: Int, contentType: String,
      body: Array[Byte]): Unit = {
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, body.length)
    ex.getResponseBody.write(body)
  }

  mount("/metrics")(ex => respond(ex, 200, metrics.renderJson))

  def start(): Unit = server.start()
  def stop(): Unit = { server.stop(0); pool.shutdown() }
  def boundPort: Int = server.getAddress.getPort
}
