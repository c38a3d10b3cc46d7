package graft.exec

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.api.{QueryFront, TierHttp}

/** The runnable broker tier: [[graft.api.QueryFront]]'s `POST /query/aql`
  * contract on the shared [[graft.api.TierHttp]] plumbing, each query
  * answered by the scatter-gather [[Broker]] — [[Broker.merged]] for
  * JSON, [[Broker.aqlHllBinary]] for `application/hll`. A client points
  * at the broker exactly as at one [[graft.api.GraftServer]] (the
  * reference's broker/handler.go plays this role in front of its
  * datanodes), and its `/metrics` is the instance's [[graft.api.Metrics]]
  * document with the same counter meanings.
  *
  * Needs no SparkSession: the broker's work is HTTP fan-out plus the
  * merge algebra over partial results.
  *
  * @param maxQueryConnections admission bound for the query endpoint
  *   (0 = no bound beyond the pool): the broker tier fronts every
  *   client, so without admission a client flood queues unboundedly in
  *   the executor — excess requests 503 fast instead (the reference
  *   provisions broker-tier connections explicitly, ares.yaml:17-22)
  * @param queryTimeoutSec per-query deadline passed into the underlying
  *   [[Broker]] (0 = none): an exceeded query surfaces the same named
  *   `query deadline exceeded` error an instance's deadline produces and
  *   frees the handler thread
  */
final class BrokerServer private (broker: Broker, instances: () => Seq[String],
    port: Int, serverThreads: Int, maxQueryConnections: Int) {

  /** Static instance list (one entry per slice, `|`-separated replicas). */
  def this(hosts: Seq[String], port: Int = 0, serverThreads: Int = 16,
      maxQueryConnections: Int = 0, queryTimeoutSec: Long = 0) =
    this(new Broker(hosts, deadlineSeconds = queryTimeoutSec), () => hosts,
      port, serverThreads, maxQueryConnections)

  private val http = new TierHttp(port, serverThreads, maxQueryConnections, "broker")
  private val querySlots = http.admission(maxQueryConnections)

  http.mount("/query/aql") { ex =>
    http.admitted(ex, querySlots) {
      http.reply(ex, QueryFront.aql(ex, http.metrics)(broker.merged, broker.aqlHllBinary))
    }
  }

  // liveness + the CURRENT instance list (re-resolved per request under a
  // dynamic topology), for operators pointing clients at the tier
  http.mount("/health") { ex =>
    http.respond(ex, 200, JsonMethods.compact(JsonMethods.render(JObject(
      "status" -> JString("up"),
      "instances" -> JArray(instances().map(JString(_)).toList)))))
  }

  def start(): Unit = http.start()
  def stop(): Unit = http.stop()
  def boundPort: Int = http.boundPort
}

object BrokerServer {
  /** Broker front over a [[BrokerTopology]]: instances joining/leaving
    * the shared membership directory reshape the fan-out per query, no
    * broker restart (the reference's etcd-watched dynamic topology role).
    */
  def dynamic(topology: BrokerTopology, port: Int = 0,
      serverThreads: Int = 16, maxQueryConnections: Int = 0,
      queryTimeoutSec: Long = 0): BrokerServer =
    new BrokerServer(Broker.dynamic(topology, deadlineSeconds = queryTimeoutSec),
      () => topology.slices().map(_.mkString("|")), port, serverThreads,
      maxQueryConnections)
}
