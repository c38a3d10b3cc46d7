package servebench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.Path
import java.time.Duration

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}

import graft.aql.Catalog

/** Blocking JSON POSTs over HTTP/1.1 (the servers speak nothing else). */
object Http {
  val client: HttpClient = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()

  def request(url: String, body: String, timeoutSec: Int = 60): HttpRequest =
    HttpRequest.newBuilder(URI.create(url))
      .timeout(Duration.ofSeconds(timeoutSec))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body, StandardCharsets.UTF_8))
      .build()

  /** (status, body); a transport failure or timeout reads as status -1. */
  def post(url: String, body: String, timeoutSec: Int = 60): (Int, String) =
    try {
      val r = client.send(request(url, body, timeoutSec), HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    } catch { case scala.util.control.NonFatal(e) => (-1, String.valueOf(e.getMessage)) }
}

/** The serving topology under test: three `GraftServer` members, each
  * owning one day-third of `events`, behind one `BrokerServer`, all on one
  * shared session. The archive is built by the program itself
  * (`Tables.eventsArchived`) from `input`, under the JVM's working
  * directory, so each set-up starts from a fresh program state.
  *
  * @param stateRoot per-set-up root for member journals and drain targets
  * @param journals turn on the per-member upsert journal and archive root
  * @param relay optional factory putting a recording relay in front of a
  *   member URL (traced runs); the broker then talks to the relays
  */
final class Topology(spark: SparkSession, input: Path, stateRoot: Path,
    journals: Boolean, relay: Option[(Int, String) => String]) {
  val dir: String = input.toString
  val stateRootPath: Path = stateRoot
  val base: Catalog = Catalog.testdata(dir)

  graft.Tables.eventsArchived(spark, dir)
  val days: Seq[String] =
    graft.exec.SliceBootstrap.localDays(spark, graft.Tables.eventsArchivePath(dir))
  require(days.length >= 3, s"input too small to slice: ${days.length} days")
  /** First day of members 1 and 2. */
  val cuts: Seq[String] = Seq(days(days.length / 3), days(2 * days.length / 3))

  def ownerOf(day: String): Int = cuts.count(c => day >= c)

  val memberCatalogs: Seq[Catalog] = Seq(
    (None, Some(cuts(0))), (Some(cuts(0)), Some(cuts(1))), (Some(cuts(1)), None)
  ).map { case (from, to) =>
    val ev = base.tables("events")
    val day = col(graft.ingest.Archiver.DayCol)
    val pred = (from.map(day >= lit(_)).toSeq ++ to.map(day < lit(_))).reduce(_ && _)
    base.copy(tables = base.tables + ("events" -> ev.copy(load = s => ev.load(s).where(pred))))
  }

  def drainDir(i: Int): String = stateRoot.resolve(s"archive/m$i/events").toString

  val members: Seq[graft.api.GraftServer] = memberCatalogs.zipWithIndex.map { case (cat, i) =>
    val s =
      if (journals) new graft.api.GraftServer(cat, spark,
        journalDir = Some(stateRoot.resolve(s"journal/m$i").toString),
        archiveRoot = Some(stateRoot.resolve(s"archive/m$i").toString))
      else new graft.api.GraftServer(cat, spark)
    s.start()
    s
  }
  val memberUrls: Seq[String] = members.map(m => s"http://localhost:${m.boundPort}")
  val brokerTargets: Seq[String] = memberUrls.zipWithIndex.map { case (u, i) =>
    relay.fold(u)(_(i, u))
  }
  val broker = new graft.exec.BrokerServer(brokerTargets)
  broker.start()
  val brokerUrl = s"http://localhost:${broker.boundPort}/query/aql"

  def stop(): Unit = {
    broker.stop()
    members.foreach(_.stop())
  }
}
