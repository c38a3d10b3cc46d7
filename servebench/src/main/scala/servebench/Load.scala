package servebench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

/** One timed operation: when it was due, sent and answered (nanoTime). */
final case class Sample(kind: String, due: Long, sent: Long, done: Long, ok: Boolean) {
  def latencyMs: Double = (done - due) / 1e6
  def lateMs: Double = (sent - due) / 1e6
}

object Stats {
  private val reported = new java.util.concurrent.atomic.AtomicInteger(0)
  /** Log the first few failed operations to stderr. */
  def failed(what: String, detail: String): Unit =
    if (reported.incrementAndGet() <= 5) System.err.println(s"[servebench] failed $what: ${detail.take(300)}")

  /** Nearest-rank percentile of `xs` (p in 0..100); NaN when empty. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p / 100 * s.length).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

/** One closed-loop query client: it sends its next request when the
  * previous one is answered, cycling through the pool.
  */
final class ClosedLoop(url: String, pool: IndexedSeq[Req]) {
  val samples = new ConcurrentLinkedQueue[Sample]()
  @volatile private var stopAt = Long.MaxValue
  @volatile private var limit = Long.MaxValue

  private val thread = new Thread(() => {
    var sent = 0L
    while (sent < limit && System.nanoTime() < stopAt) {
      val req = pool((sent % pool.length).toInt)
      val t0 = System.nanoTime()
      val (status, body) = Http.post(url, req.body)
      val ok = status == 200 && Check.firstResult(body).isRight
      if (!ok) Stats.failed(req.name, s"$status $body")
      samples.add(Sample("query", t0, t0, System.nanoTime(), ok))
      sent += 1
    }
  }, "servebench-client")
  thread.setDaemon(true)

  @volatile private var started = 0L
  /** Seconds from start until the client finished. */
  @volatile var activeSecs = 0.0

  /** Send every request of the pool `n` times, in order, and wait for the answers. */
  def passes(n: Int): Seq[Sample] = {
    limit = n.toLong * pool.length
    start()
    join()
  }

  def start(): Unit = { started = System.nanoTime(); thread.start() }
  def stop(): Seq[Sample] = { stopAt = 0L; join() }
  private def join(): Seq[Sample] = {
    thread.join()
    activeSecs = (System.nanoTime() - started) / 1e9
    samples.asScala.toSeq
  }
}
