package graft.api

import java.nio.charset.StandardCharsets

import scala.util.control.NonFatal

import com.sun.net.httpserver.HttpExchange
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.aql.{AqlJson, AqlQuery, SqlFront}

/** The query contract both serving tiers answer — the reference's
  * `POST /query/aql` (api/query_handler.go:67-120 on a datanode, served
  * unchanged by its broker, broker/handler.go), so a client points at an
  * instance or at the broker alike. Each tier supplies only its function
  * from a typed [[AqlQuery]] to its answer:
  *
  *  - an AQLRequest `{"queries": [...]}` answers the AQLResponse
  *    `{"results": [...], "errors": [...]}` (query/common/aql.go:161-166):
  *    each query runs on its own, a failure lands in `errors[i]` with
  *    `results[i]` empty, and `errors` is null when every query succeeded;
  *  - `Accept: application/hll` answers the FIRST query as the binary HLL
  *    body ([[graft.exec.RefHllWire]]);
  *  - every query counts once in the tier's [[Metrics]].
  */
object QueryFront {

  final case class Reply(contentType: String, body: Array[Byte])

  private val HllType = "application/hll"

  /** `POST /query/aql`: `run` answers a JSON query, `sketch` an
    * `application/hll` one.
    */
  def aql(ex: HttpExchange, metrics: Metrics)(run: AqlQuery => JValue,
      sketch: AqlQuery => Array[Byte]): Reply = {
    val queries = AqlJson.parseRequest(body(ex)).queries
    if (Option(ex.getRequestHeaders.getFirst("Accept")).contains(HllType))
      Reply(HllType, counted(metrics)(sketch(queries.head)))
    else json(answer(metrics, queries)(run))
  }

  /** `POST /query/sql`: `{"queries": ["SELECT ..."]}` or one bare
    * statement, each translated by [[SqlFront]] into the AQL query `run`
    * answers.
    */
  def sql(ex: HttpExchange, metrics: Metrics)(run: AqlQuery => JValue): Reply =
    json(answer(metrics, statements(body(ex)))(s => run(SqlFront.translate(s))))

  def statements(body: String): Seq[String] =
    if (body.trim.startsWith("{"))
      (JsonMethods.parse(body) \ "queries").children.map(_.values.toString)
    else Seq(body)

  /** The AQLResponse envelope over `queries`, each answered by `run`. */
  def answer[Q](metrics: Metrics, queries: Seq[Q])(run: Q => JValue): JValue = {
    val outcomes = queries.map { q =>
      try Right(counted(metrics)(run(q)))
      catch { case NonFatal(e) => Left(message(e)) }
    }
    JObject(
      "results" -> JArray(outcomes.map(_.getOrElse(JObject())).toList),
      "errors" -> (if (outcomes.exists(_.isLeft))
        JArray(outcomes.map(_.fold[JValue](JString(_), _ => JNull)).toList)
      else JNull))
  }

  def message(e: Throwable): String = Option(e.getMessage).getOrElse(e.getClass.getName)

  private def counted[T](metrics: Metrics)(f: => T): T =
    try {
      val out = f
      metrics.countQuery(None)
      out
    } catch {
      case NonFatal(e) =>
        metrics.countQuery(Some(message(e)))
        throw e
    }

  private def body(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)

  private def json(v: JValue): Reply = Reply("application/json",
    JsonMethods.compact(JsonMethods.render(v)).getBytes(StandardCharsets.UTF_8))
}
