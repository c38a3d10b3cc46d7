package servebench

import java.net.http.HttpResponse
import java.util.concurrent.{ConcurrentLinkedQueue, Semaphore, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.json4s._

/** Upsert generator with its own model of what the store must hold.
  *
  * Rows are 80% inserts (fresh keys) and 20% updates of base keys. Every
  * batch lands in one day, drawn with a cubic skew toward the newest days,
  * and goes to the member that owns that day. A base key is updated at
  * most once per run, so two batches in flight can never race on a key
  * and the model is exact whatever order they apply in.
  */
object UpsertGen {
  final case class Row(id: Long, day: Int, tsSec: Long, user: Long, etype: String, value: Double)
  final case class Batch(k: Int, day: Int, rows: Seq[Row]) {
    def json: String = rows.map { r =>
      val ts = java.time.Instant.ofEpochSecond(r.tsSec).toString
      s"""{"event_id": ${r.id}, "ts": "$ts", "user_id": ${r.user}, "event_type": "${r.etype}", "value": ${r.value}, "props": "{\\"k\\": ${r.id % 100}}"}"""
    }.mkString("[", ",", "]")
  }
}

final class UpsertGen(spark: SparkSession, input: String, seed: Long, rowsPerBatch: Int) {
  import UpsertGen._

  /** Base rows: event id -> (day, value, ts seconds). */
  private val base: mutable.LongMap[(Int, Double, Long)] = {
    val m = mutable.LongMap.empty[(Int, Double, Long)]
    graft.Tables.events(spark, input)
      .selectExpr("event_id", "unix_seconds(ts)", "value").collect().foreach { r =>
        val ts = r.getLong(1)
        m.update(r.getLong(0), (((ts - Inputs.FirstDay) / 86400).toInt, r.getDouble(2), ts))
      }
    m
  }
  private val updatable: Array[mutable.ArrayBuffer[Long]] = {
    val a = Array.fill(Inputs.Days)(mutable.ArrayBuffer.empty[Long])
    base.foreachEntry((id, v) => a(v._1) += id)
    a.foreach(_.sortInPlace())
    a
  }
  private val rnd = new Random(seed ^ 0x5eed1e55L)
  private var nextId = base.keys.max + 1

  /** The next batch in generation order (call from one thread). */
  def next(k: Int, forceDay: Option[Int] = None): Batch = {
    val u = rnd.nextDouble()
    val day = forceDay.getOrElse(
      Inputs.Days - 1 - math.min(Inputs.Days - 1, (Inputs.Days * u * u * u).toInt))
    val rows = (0 until rowsPerBatch).map { _ =>
      val pool = updatable(day)
      val etype = Inputs.EventTypes(rnd.nextInt(Inputs.EventTypes.size))
      val value = math.round(rnd.nextDouble() * 20000) / 100.0
      val user = rnd.nextInt(Inputs.Users).toLong
      if (rnd.nextInt(5) == 0 && pool.nonEmpty) {
        val id = pool.remove(rnd.nextInt(pool.length))
        Row(id, day, base(id)._3, user, etype, value)
      } else {
        nextId += 1
        Row(nextId, day, Inputs.dayEpoch(day) + rnd.nextInt(86400), user, etype, value)
      }
    }
    Batch(k, day, rows)
  }

  /** Per-day (count, sum of value) after applying `acked` in order. */
  def model(acked: Seq[Batch]): IndexedSeq[(Long, Double)] = {
    val m = mutable.LongMap.empty[(Int, Double)]
    base.foreachEntry((id, v) => m.update(id, (v._1, v._2)))
    acked.sortBy(_.k).foreach(_.rows.foreach(r => m.update(r.id, (r.day, r.value))))
    val out = Array.fill(Inputs.Days)((0L, 0.0))
    m.foreachEntry { (_, v) => out(v._1) = (out(v._1)._1 + 1, out(v._1)._2 + v._2) }
    out.toIndexedSeq
  }
}

/** Open-loop upsert producer: batch k is due at `k / rate` seconds, sent
  * as soon as one of `maxInFlight` slots is free, and its ack is timed
  * from when it was due.
  */
final class Producer(topo: Topology, gen: UpsertGen, rate: Double, maxInFlight: Int = 2) {
  val samples = new ConcurrentLinkedQueue[Sample]()
  val acked = new ConcurrentLinkedQueue[UpsertGen.Batch]()
  private val slots = new Semaphore(maxInFlight)
  private var k = 0

  private def url(b: UpsertGen.Batch): String =
    topo.memberUrls(topo.ownerOf(Inputs.dayString(b.day))) + "/data/events"

  /** Send batches on schedule for `seconds`; acks may still be in flight. */
  def run(seconds: Double): Unit = {
    val t0 = System.nanoTime()
    val period = (1e9 / rate).toLong
    var due = t0
    while (due < t0 + (seconds * 1e9).toLong) {
      val wait = due - System.nanoTime()
      if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
      val b = gen.next(k); k += 1
      val body = b.json
      slots.acquire()
      val sent = System.nanoTime()
      val d = due
      Http.client.sendAsync(Http.request(url(b), body), HttpResponse.BodyHandlers.ofString())
        .whenComplete { (resp, err) =>
          val ok = err == null && resp.statusCode() == 200
          if (!ok) Stats.failed(s"upsert batch ${b.k}",
            if (err != null) err.toString else s"${resp.statusCode()} ${resp.body()}")
          if (ok) acked.add(b)
          samples.add(Sample("ack", d, sent, System.nanoTime(), ok))
          slots.release()
        }
      due += period
    }
  }

  def awaitAcks(): Unit = {
    slots.acquire(maxInFlight)
    slots.release(maxInFlight)
  }

  /** One batch sent and acked before returning (warm-up, serial pass). */
  def sendOne(day: Option[Int] = None): (UpsertGen.Batch, Int, Long) = {
    val b = gen.next(k, day); k += 1
    val body = b.json
    val (status, _) = Http.post(url(b), body)
    if (status == 200) acked.add(b)
    (b, status, body.length.toLong)
  }
}

/** Calls `GraftServer.drain` on every member every `everySec` seconds. */
final class Drainer(topo: Topology, everySec: Double) {
  /** (member, start, end) of each drain, nanoTime. */
  val drains = new ConcurrentLinkedQueue[(Int, Long, Long)]()
  @volatile private var running = true
  /** Runs just before each round (trace sampling). */
  @volatile var beforeRound: () => Unit = () => ()

  /** Drain every member; only drains that had live rows are recorded. */
  def drainAll(): Unit = topo.members.indices.foreach { i =>
    val live = topo.members(i).hasLiveRows("events")
    val t0 = System.nanoTime()
    topo.members(i).drain("events", topo.drainDir(i))
    if (live) drains.add((i, t0, System.nanoTime()))
  }

  private val thread = new Thread(() => {
    val period = (everySec * 1e9).toLong
    var next = System.nanoTime() + period
    while (running) {
      val wait = next - System.nanoTime()
      if (wait > 0) TimeUnit.NANOSECONDS.sleep(math.min(wait, 50000000L))
      else if (running) { beforeRound(); drainAll(); next += period }
    }
  }, "servebench-drainer")
  thread.setDaemon(true)

  def start(): Unit = thread.start()
  def stop(): Unit = { running = false; thread.join() }
}

object IngestCheck {
  /** Compare the broker's per-day counts and sums with the model. */
  def verify(brokerUrl: String, model: IndexedSeq[(Long, Double)]): Option[String] = {
    def byDay(q: String): Either[String, Map[String, Double]] = {
      val (status, body) = Http.post(brokerUrl, q)
      if (status != 200) Left(s"status $status: ${body.take(200)}")
      else Check.firstResult(body).map {
        case JObject(fs) => fs.map { case (k, v) => k.take(10) -> Check.num(v).getOrElse(Double.NaN) }.toMap
        case other => Map.empty[String, Double]
      }
    }
    val counts = byDay(Requests.countByDay)
    val sums = byDay(Requests.sumByDay)
    (counts, sums) match {
      case (Left(e), _) => Some(s"count by day failed: $e")
      case (_, Left(e)) => Some(s"sum by day failed: $e")
      case (Right(c), Right(s)) =>
        val bad = model.indices.flatMap { d =>
          val day = Inputs.dayString(d)
          val (n, v) = model(d)
          val gotN = c.getOrElse(day, 0.0)
          val gotV = s.getOrElse(day, 0.0)
          (if (gotN != n) Seq(s"$day count $gotN, model $n") else Nil) ++
            (if (!Check.close(gotV, v)) Seq(s"$day sum $gotV, model $v") else Nil)
        }
        val extra = (c.keySet ++ s.keySet) -- model.indices.map(Inputs.dayString)
        if (bad.nonEmpty) Some(bad.take(5).mkString("; "))
        else if (extra.nonEmpty) Some(s"unexpected days ${extra.mkString(",")}")
        else None
    }
  }
}
