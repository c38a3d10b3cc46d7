package graft.api

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Per-tier serving metrics, one `GET /metrics` document with the same
  * meaning on an instance and on the broker — the operational surface
  * the reference exposes through its reporter/debug handlers
  * (the reference's utils/reporter.go, api/debug_handler.go:40+):
  *
  *  - `queries`: every query a tier answered through [[QueryFront]] —
  *    each query of an AQL or SQL request and the one query of an
  *    `application/hll` request — whether it succeeded or failed. A
  *    request refused before any query ran (400 malformed, 503 at
  *    capacity) counts none.
  *  - `errors`: the queries among them that failed.
  *  - `deadlineCancelled`: the errors that are the named `query deadline
  *    exceeded` error.
  *  - `rejected`: requests an admission class refused with 503.
  *  - `recent`: the last queries an instance executed, with wall time and
  *    rows scanned (summed over the executed plan's leaf scans, so a
  *    partition-pruned archive read shows the PRUNED row count). The
  *    broker executes none, so its list stays empty.
  *
  * A bounded ring of the most recent queries keeps the endpoint O(1):
  * no per-query state accumulates for the server's lifetime.
  */
final class Metrics {
  import Metrics.QueryStat

  private val MaxRecent = 100
  private val recent = new java.util.ArrayDeque[QueryStat](MaxRecent)
  private val nQueries = new AtomicLong
  private val nErrors = new AtomicLong
  private val nRejected = new AtomicLong
  private val nDeadline = new AtomicLong

  def recordRejected(): Unit = nRejected.incrementAndGet()

  /** Count one answered query; `error` is its failure message. */
  def countQuery(error: Option[String]): Unit = {
    nQueries.incrementAndGet()
    error.foreach { msg =>
      nErrors.incrementAndGet()
      if (msg.startsWith("query deadline exceeded")) nDeadline.incrementAndGet()
    }
  }

  /** Keep an executed query's stat in the `recent` ring. */
  def record(stat: QueryStat): Unit = recent.synchronized {
    if (recent.size == MaxRecent) recent.removeFirst()
    recent.addLast(stat)
  }

  def renderJson: String = {
    val stats = recent.synchronized {
      val it = recent.iterator()
      val b = Seq.newBuilder[QueryStat]
      while (it.hasNext) b += it.next()
      b.result()
    }
    // table names are caller-supplied (schema API) — escape them, or a
    // quote in a name corrupts the whole /metrics document
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val rows = stats.map { s =>
      s"""{"endpoint":${q(s.endpoint)},"table":${q(s.table)},"wallMs":${s.wallMs},""" +
        s""""rowsScanned":${s.rowsScanned},"rowsReturned":${s.rowsReturned},"atEpochMs":${s.atEpochMs}}"""
    }.mkString("[", ",", "]")
    s"""{"queries":${nQueries.get},"errors":${nErrors.get},""" +
      s""""rejected":${nRejected.get},"deadlineCancelled":${nDeadline.get},""" +
      s""""recent":$rows}"""
  }
}

object Metrics {

  final case class QueryStat(endpoint: String, table: String, wallMs: Long,
      rowsScanned: Long, rowsReturned: Long, atEpochMs: Long)

  /** Build the stat for an executed query: rows scanned from the leaf
    * scans, rows returned from the topmost node that reports output rows.
    */
  def stat(endpoint: String, compiled: graft.aql.AqlCompiler.Compiled,
      wallMs: Long): QueryStat =
    QueryStat(endpoint, compiled.query.table, wallMs,
      rowsScanned(compiled.df), rowsReturned(compiled.df),
      System.currentTimeMillis())

  /** Output rows of the topmost plan node that tracks them (-1 if none). */
  def rowsReturned(df: DataFrame): Long = {
    def top(p: SparkPlan): Option[Long] = {
      val nested: Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case _ => Seq.empty
      }
      p.metrics.get("numOutputRows").map(_.value)
        .orElse((nested ++ p.children).flatMap(top).headOption)
    }
    top(df.queryExecution.executedPlan).getOrElse(-1L)
  }

  /** Rows produced by the executed plan's leaf nodes (scans). AQE-aware:
    * exchanges hide inside query stages whose `children` is Nil.
    */
  def rowsScanned(df: DataFrame): Long = {
    def leaves(p: SparkPlan): Seq[SparkPlan] = {
      val nested: Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case _ => Seq.empty
      }
      val kids = p.children ++ nested
      if (kids.isEmpty) Seq(p) else kids.flatMap(leaves)
    }
    leaves(df.queryExecution.executedPlan)
      .flatMap(_.metrics.get("numOutputRows"))
      .map(_.value)
      .sum
  }
}
