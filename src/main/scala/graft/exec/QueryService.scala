package graft.exec

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.json4s._

import graft.aql._

/** An instance's query execution: the function [[graft.api.QueryFront]]
  * calls per typed query on a [[graft.api.GraftServer]] — compile, then
  * shape the rows under the query's deadline ([[answer]]), or re-plan to
  * sketches for `application/hll` ([[aqlBinary]]). The front owns the
  * request, the AQLResponse envelope and the counters; this class owns
  * what a query costs an instance: its Spark job group, its deadline,
  * its stale-plan retry and its `recent` stat in [[graft.api.Metrics]].
  */
/** @param strictCompat compile queries in reference-exact compatibility
  *   mode (see [[graft.aql.AqlCompiler]]) — a deployment diffing results
  *   against a reference cluster flips this one flag
  */
/** @param queryTimeoutSec per-query wall-clock deadline (0 = none) — the
  *   reference bounds query time via config
  *   (/root/reference/integration/config/ares.yaml:21-22
  *   read/write_time_out_in_seconds); here the deadline cancels the
  *   query's Spark job group so a runaway scan releases its executors
  */
final class QueryService(catalog: Catalog, spark: SparkSession,
    strictCompat: Boolean = false,
    metrics: Option[graft.api.Metrics] = None,
    queryTimeoutSec: Long = 0) {

  private val compiler = new AqlCompiler(catalog, spark, strictCompat)

  /** Deadline machinery: each query executes under its own Spark job
    * group (a THREAD-LOCAL SparkContext property, so concurrent handler
    * threads never collide) and a watchdog cancels the group at the
    * deadline with `interruptOnCancel = true` — running tasks are
    * interrupted, not merely descheduled. The caller sees a NAMED error
    * (`query deadline exceeded`), not a bare SparkException. Driver-side
    * stalls (a hung compile) are out of scope — the deadline bounds
    * cluster work, which is where runaway queries hold resources.
    */
  private lazy val watchdog =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "graft-query-watchdog"); t.setDaemon(true); t
    })
  private val queryIds = new java.util.concurrent.atomic.AtomicLong(0)

  private[exec] def withDeadline[T](f: => T): T =
    if (queryTimeoutSec <= 0) f
    else {
      val sc = spark.sparkContext
      val groupId = s"graft-deadline-${queryIds.incrementAndGet()}"
      val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
      val done = new java.util.concurrent.atomic.AtomicBoolean(false)
      // `done` is read and written under this lock so that once the query's
      // scope has exited (finally below), no straggling watchdog tick can
      // still issue a cancellation for this group id
      val gate = new Object
      sc.setJobGroup(groupId, "graft query under deadline", interruptOnCancel = true)
      // A REPEATING non-sticky cancel while the query is overdue, NOT the
      // one-shot sticky cancelJobGroupAndFutureJobs. Two hazards drove
      // this shape:
      //  - a multi-job execution (any AQE plan is a SEQUENCE of stage
      //    jobs) can be between jobs when the deadline fires — a single
      //    plain cancelJobGroup would find nothing active and the query
      //    would sail past its deadline on the next submitted job. The
      //    250 ms re-fire bounds post-deadline progress to one tick.
      //  - cancelJobGroupAndFutureJobs poisons PERMANENTLY: Spark's lazy
      //    internal pools (broadcast exchange, AQE stage creation) inherit
      //    localProperties from whichever query's thread chain created
      //    them, so a pool thread born during this query carries this
      //    group id FOREVER, and with the sticky cancel every later
      //    query's pool-submitted job is "part of cancelled job group"
      //    and skipped — a cross-query cancellation bleed reproduced in
      //    ServingConcurrencySpec ("late watchdog" case) before this fix.
      //    Non-sticky cancels only touch jobs active at tick time, and
      //    ticks stop the moment the query's scope exits.
      // Residual (documented, accepted): while a runaway query is being
      // actively killed, a CONCURRENT query's broadcast job submitted via
      // a pool thread from the victim's lineage can be collaterally
      // cancelled — it surfaces as a retryable cancellation error during
      // the victim's overdue window only, never a wrong answer, and never
      // outlives the window.
      val cancel = watchdog.scheduleWithFixedDelay(new Runnable {
        def run(): Unit = gate.synchronized {
          if (!done.get()) { fired.set(true); sc.cancelJobGroup(groupId) }
        }
      }, queryTimeoutSec * 1000L, 250L, java.util.concurrent.TimeUnit.MILLISECONDS)
      val startNanos = System.nanoTime()
      try {
        val out = f
        // the repeating non-sticky cancel only reaches jobs ACTIVE at tick
        // instants — an overdue query whose remaining stage jobs each fit
        // inside a 250 ms tick gap can dodge every tick and COMPLETE. The
        // deadline is a contract, not a best effort: a result produced
        // past it is discarded by elapsed time (not by `fired`, so a
        // saturated watchdog can't soften the bound either).
        if (System.nanoTime() - startNanos >= queryTimeoutSec * 1000000000L)
          throw new IllegalStateException(
            s"query deadline exceeded (${queryTimeoutSec}s)")
        out
      }
      catch {
        // rethrow CANCELLATIONS under the deadline's name so clients see
        // the cause, not Spark internals — but only genuine
        // cancellations: a real failure that happens to land after the
        // watchdog fired must keep its own message
        case NonFatal(e) if fired.get() && isCancellation(e) =>
          throw new IllegalStateException(
            s"query deadline exceeded (${queryTimeoutSec}s)")
      } finally {
        gate.synchronized { done.set(true) }
        cancel.cancel(false)
        sc.clearJobGroup()
      }
    }

  private def isCancellation(e: Throwable, depth: Int = 0): Boolean =
    if (e == null || depth > 16) false // depth cap: cause chains can cycle
    else {
      val m = Option(e.getMessage).getOrElse("")
      m.contains("cancelled") || m.contains("SPARK_JOB_CANCELLED") ||
        e.isInstanceOf[InterruptedException] || isCancellation(e.getCause, depth + 1)
    }

  /** Answer one query as its JSON result, recording its stat under
    * `endpoint` in `recent`. A stale plan (see [[isStalePlan]]) gets one
    * fresh compile.
    */
  def answer(q: AqlQuery, endpoint: String): JValue = {
    val t0 = System.nanoTime()
    def attempt(): JValue = {
      val compiled = compiler.compile(q)
      val shaped = withDeadline(ResultShaper.shape(compiled))
      metrics.foreach(_.record(graft.api.Metrics.stat(
        endpoint, compiled, (System.nanoTime() - t0) / 1000000)))
      shaped
    }
    try attempt()
    catch { case NonFatal(e) if isStalePlan(e) => attempt() }
  }

  /** Compile one AQL query and return its formatted physical plan WITHOUT
    * executing it — the reference's debug surface
    * (/root/reference/api/debug_handler.go:40+) re-expressed as Catalyst
    * plan inspection.
    */
  def plan(queryJson: String): String = {
    val compiled = compiler.compile(AqlJson.parseQuery(queryJson))
    compiled.df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }

  /** Execute one AQL query with an HLL measure and return the
    * `application/hll` binary body in the REFERENCE's byte layout
    * ([[RefHllWire]] — width-bucketed dim vectors, enum-case sections,
    * 4-byte sparse registers, result envelope), so a client written
    * against the reference parses the response unchanged. Dimensions must
    * be integral or string-valued (strings ride as enum dictionaries).
    */
  def aqlBinary(q: AqlQuery): Array[Byte] = {
    val parsed = ExprParser.parse(q.measures.head.sqlExpression)
    // hll(col) consumes PRECOMPUTED register values (the isHLLColumn path)
    // and must register-max merge them into the sketch; re-hashing them as
    // raw values (the countDistinctHLL path) would build a different,
    // wrong sketch — the binary endpoint must agree with the JSON results
    // for the same query
    val (inner, fromRegisters) = parsed match {
      case Expr.Call("countdistincthll", Seq(arg)) => (Render(arg), false)
      case Expr.Call("hll", Seq(arg)) => (Render(arg), true)
      case _ => throw ParseException("application/hll requires an HLL measure", 0)
    }
    val n = q.dimensionList.length
    val grouped = sketchDf(q, inner, fromRegisters)
    val collected = withDeadline(grouped.collect())

    // string dimensions ride as dictionary indexes + a per-dim enum-cases
    // section (the reference's enum translation, query/hll.go EnumDicts)
    val dicts: Map[Int, Seq[String]] = (0 until n).flatMap { i =>
      val strings = collected.flatMap(r =>
        if (r.isNullAt(i)) None
        else r.get(i) match {
          case s: String => Some(s)
          case _ => None
        })
      if (strings.isEmpty) None else Some(i -> strings.distinct.sorted.toSeq)
    }.toMap
    // integral dims ride as Uint32 epoch/bucket values (the reference's
    // time/numeric dim representation)
    val rows = collected.map { r =>
      val dims = (0 until n).map { i =>
        if (r.isNullAt(i)) None
        else r.get(i) match {
          case l: Long => Some(l)
          case i2: Int => Some(i2.toLong)
          case s: String => Some(s)
          case other => throw ParseException(
            s"application/hll dims must be integral or string, got ${other.getClass.getSimpleName}", 0)
        }
      }
      (dims, graft.functions.Hll.decode(r.getAs[Array[Byte]](n)))
    }
    RefHllWire.encodeResult(n, dicts, _ => 0x00060020L, rows)
  }

  /** The query re-planned to produce SKETCHES instead of estimates: a
    * non-agg projection of the dims + the hll input column, grouped here
    * with the sketch aggregate (ref qc.ReturnHLLData path,
    * query/hll.go:27-108).
    */
  private def sketchDf(q: AqlQuery, innerExpr: String, fromRegisters: Boolean) = {
    import org.apache.spark.sql.functions._
    val dimsQ = q.dimensionList.zipWithIndex.map { case (d, i) =>
      d.copy(alias = d.alias.orElse(Some(s"d$i")))
    }
    val proj = compiler.compile(q.copy(
      measures = Seq(AqlMeasure(None, "1", q.measures.head.rowFilters)),
      dimensions = Some(dimsQ :+ AqlDimension(Some("__hll_in"), Some(innerExpr))),
      limit = Some(-1)))
    val dimCols = dimsQ.map(d => col(d.alias.get))
    val sketch =
      if (fromRegisters) graft.functions.Hll.hllFromRegistersSketch(col("__hll_in"))
      else graft.functions.Hll.hllSketch(col("__hll_in"))
    proj.df.groupBy(dimCols: _*).agg(sketch.as("__sketch"))
  }

  /** A scan that planned its file listing before a concurrent rebalance
    * dropped moved-day files from this member's local store fails with a
    * missing-file read error at execution. The plan is stale, not the
    * data: a fresh compile re-reads the published assignment AND re-lists
    * files, so one retry serves the exact post-move answer. Anything
    * still failing after the retry is a real missing-file problem and
    * surfaces loudly.
    */
  private def isStalePlan(e: Throwable, depth: Int = 0): Boolean =
    if (e == null || depth > 16) false
    else {
      val m = Option(e.getMessage).getOrElse("")
      m.contains("FAILED_READ_FILE") || m.contains("FileNotFoundException") ||
        e.isInstanceOf[java.io.FileNotFoundException] ||
        isStalePlan(e.getCause, depth + 1)
    }
}
