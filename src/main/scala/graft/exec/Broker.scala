package graft.exec

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.DurationInt

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.aql.{AqlJson, AqlQuery, BinOp, Expr, ExprParser, Render}
import graft.functions.Hll

/** Scatter-gather broker over N running [[graft.api.GraftServer]]
  * instances — the reference's broker tier re-expressed for the HTTP
  * facade. The reference folds datanode partials with one algebra
  * (result_merge.go:42-141) and splits avg into a sum plan and a count
  * plan divided at the root (query_plan_agg.go:438-470). An aggregate
  * measure takes one path here:
  *
  *   1. parse the measure and rewrite every `avg(a)` to
  *      `sum(a) / count(a)` — count(a) skips nulls exactly like the
  *      instance's own avg
  *   2. scatter every distinct aggregate component in ONE concurrent wave
  *      (each component is its own [[consistentWave]])
  *   3. fold each component's partials per flat dimension path:
  *      sum / count add, min / max compare, HLL registers merge by
  *      element-wise max over the `application/hll` binary bodies (the
  *      estimate is taken once over the merged sketch — merging estimates
  *      would double-count overlap); null and missing leaves are
  *      identities
  *   4. evaluate the measure's arithmetic once per path
  *   5. build the JSON tree once ([[ResultShaper.tree]])
  *
  * Non-aggregate queries concatenate matrixData and re-apply the limit
  * (distributed top-k when sorted).
  *
  * Deployment shape: each instance owns a slice of the fact table
  * (disjoint day ranges / shard assignments, ref util.CalculateShardAssignment);
  * dimension-table queries go to a single instance. `sorts`/`limit` on
  * grouped aggregates are NOT pushed to instances — a group absent from
  * one instance's local top-k would merge incompletely, and the reference
  * broker never executes sorts at all — the broker fans the full group set.
  *
  * HLL dimension keys are rebuilt from the wire's raw values (enum dims
  * decode through their dictionaries, numeric dims print as numbers) —
  * time-FORMATTED dimension labels are a JSON-path nicety the binary wire
  * does not carry, matching the reference's HLL response contract. For
  * the same reason an HLL component cannot share a path space with JSON
  * components, so HLL inside arithmetic is refused.
  */
final class Broker private (sliceProvider: () => Seq[Seq[String]],
    timeout: Duration, trials: Int, healthMemoryMillis: Long,
    deadlineSeconds: Long) {
  require(trials > 0, s"trials $trials must be positive")

  /** Static topology. Each entry of `hosts` is one data SLICE;
    * `|`-separated URLs within an entry are replicas serving the same
    * slice (`"http://a:9000|http://b:9000"`). A failed fetch retries the
    * next replica round-robin, up to `trials` full cycles — the
    * reference's datanode retry loop with host-health demotion
    * (/root/reference/broker/query_plan_agg.go:170-215, where a connect
    * failure marks the host unhealthy and the trial loop re-resolves).
    *
    * @param healthMemoryMillis how long a failed host stays demoted (see
    *   [[demotedUntil]]); 0 disables the memory
    * @param deadlineSeconds per-query wall-clock deadline (0 = none):
    *   every gather wait is capped at the deadline and an exceeded query
    *   surfaces the same NAMED error as a single instance's deadline
    *   (`query deadline exceeded`), so a stuck merge cannot pin a broker
    *   handler thread for the full worst-case retry budget (the
    *   reference bounds the broker tier with the same timeouts,
    *   ares.yaml:21-22). The abandoned scatter futures stop at their own
    *   per-request timeouts — bounded, not instant; the deadline bounds
    *   what the CLIENT and the handler thread pay.
    */
  def this(hosts: Seq[String], timeout: Duration = Duration.ofSeconds(120),
      trials: Int = 3, healthMemoryMillis: Long = 60000,
      deadlineSeconds: Long = 0) =
    this(() => Broker.staticSlices(hosts), timeout, trials, healthMemoryMillis,
      deadlineSeconds)

  /** Host-health memory ACROSS queries (ref query_plan_agg.go:170-215:
    * a connect failure marks the host unhealthy and later trials
    * re-resolve around it). A failed fetch demotes the host until
    * `now + healthMemoryMillis`; [[fetch]] orders each slice's replicas
    * healthy-first, so a dead replica stops costing its connect/read
    * timeout on EVERY subsequent query. Demoted hosts are still tried
    * LAST — never blacklisted outright — and any success (or expiry)
    * promotes them back, so a recovered replica rejoins within one
    * memory window at worst.
    */
  private val demotedUntil =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  /** The slice map is RESOLVED PER QUERY through the provider — under a
    * [[BrokerTopology]] a newly registered instance joins the next
    * query's fan-out and a stale one is demoted, with no broker restart
    * (the reference's HealthTrackingDynamicTopology role).
    */
  private def slices: Seq[Seq[String]] = {
    val s = sliceProvider()
    require(s.nonEmpty, "broker topology has no live instances")
    require(s.forall(_.nonEmpty), "every slice needs at least one replica URL")
    s
  }

  private val client = HttpClient.newBuilder().connectTimeout(timeout).build()
  private implicit val ec: ExecutionContext = ExecutionContext.global
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Scatter deadline: the worst case one slice can legitimately take is
    * `trials` full replica cycles each bounded by the per-request
    * `timeout`, so the gather Await must sit ABOVE that — otherwise a
    * slice of hanging replicas surfaces as a bare TimeoutException (masking
    * the per-replica diagnostics) while orphaned retries keep burning
    * global-pool threads.
    */
  private def gatherWait(ss: Seq[Seq[String]]): scala.concurrent.duration.FiniteDuration =
    scala.concurrent.duration.FiniteDuration(
      timeout.toMillis * trials * ss.map(_.length).max + 30000,
      java.util.concurrent.TimeUnit.MILLISECONDS)

  /** Await a gather future under the structural wait bound AND the
    * per-query deadline (when set). Deadline exhaustion throws the same
    * named error [[graft.exec.QueryService]] uses, so a client sees one
    * vocabulary whether the deadline fired at an instance or here.
    */
  private def awaitGather[T](f: Future[T], ss: Seq[Seq[String]],
      extra: scala.concurrent.duration.FiniteDuration =
        scala.concurrent.duration.Duration.Zero): T = {
    val structural = gatherWait(ss) + extra
    val deadline =
      if (deadlineSeconds > 0) Some(scala.concurrent.duration.FiniteDuration(
        deadlineSeconds, java.util.concurrent.TimeUnit.SECONDS))
      else None
    // attribute a timeout to the deadline only when the deadline was the
    // BINDING bound (identity, not a seconds comparison — a structural
    // wait that coincidentally rounds to deadlineSeconds must not
    // masquerade as a deadline cancellation in the error and counters)
    val deadlineBinds = deadline.exists(_ < structural)
    val limit = if (deadlineBinds) deadline.get else structural
    try Await.result(f, limit)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        if (deadlineBinds)
          throw new IllegalStateException(
            s"query deadline exceeded (${deadlineSeconds}s)")
        else throw new IllegalStateException(
          s"scatter gather timed out after $limit")
    }
  }

  /** Fetch one slice's result, failing over across its replicas: replica
    * i of attempt t is `slice(t % n)`, so a flaky instance is retried and
    * a dead one is routed around; gives up after `trials` full cycles.
    * Only non-fatal failures retry — interruption (cancellation) is
    * propagated, not swallowed into another attempt, and a 4xx response
    * (a CLIENT error: bad AQL, unknown table) propagates immediately —
    * retrying a malformed query against every replica would burn the full
    * retry budget, demote every healthy host for `healthMemoryMillis`
    * (skewing replica ordering for subsequent GOOD queries), and then
    * mask the user's compile error as "all replicas failed".
    */
  private def fetch(slice: Seq[String], body: String,
      accept: String): (Array[Byte], Option[String], Option[String]) = {
    var last: Throwable = null
    var attempt = 0
    val max = trials * slice.length
    // healthy replicas first (stable sort keeps the configured order
    // within each class) — a host that failed a recent query is only
    // consulted after every healthy peer has been tried
    val now = System.currentTimeMillis()
    // opportunistic pruning: under a dynamic topology, departed hosts
    // (fresh host:port per redeploy) would otherwise accumulate forever —
    // an expired demotion is dead weight either way
    demotedUntil.filterInPlace((_, until) => until > now)
    val ordered =
      if (healthMemoryMillis <= 0) slice
      else slice.sortBy(h => if (demotedUntil.get(h).exists(_ > now)) 1 else 0)
    while (attempt < max) {
      val host = ordered(attempt % ordered.length)
      try {
        val bytes = post(host, body, accept)
        demotedUntil.remove(host)
        return bytes
      } catch {
        case e: InterruptedException => throw e
        case e: Broker.ClientError =>
          // the host is healthy — it answered, rejecting the REQUEST
          demotedUntil.remove(host)
          throw e
        case scala.util.control.NonFatal(e) =>
          last = e
          attempt += 1
          if (healthMemoryMillis > 0)
            demotedUntil.put(host, System.currentTimeMillis() + healthMemoryMillis)
          log.warn(s"fetch from $host failed (attempt $attempt/$max): ${e.getMessage}")
      }
    }
    throw new IllegalStateException(
      s"all ${slice.length} replica(s) of slice ${slice.mkString("|")} " +
        s"failed after $max attempts", last)
  }

  /** Execute one AQL query (the JSON document) across every instance and
    * return the merged AQLQueryResult JSON.
    */
  def aql(queryJson: String): String =
    JsonMethods.compact(JsonMethods.render(merged(AqlJson.parseQuery(queryJson))))

  def merged(request: AqlQuery): JValue = {
    val q0 = Broker.pinNow(request)
    require(q0.measures.length == 1,
      "broker merges single-measure queries (the reference compiler enforces the same)")
    ExprParser.parse(q0.measures.head.sqlExpression) match {
      case Expr.Num(1.0, _, true) => mergeNonAgg(q0)
      // exact distinct is NOT distributable by summing per-slice counts —
      // a value appearing in two slices would count twice
      case Expr.Call("countdistinct", _) => throw new IllegalArgumentException(
        "broker cannot merge count(distinct ...): per-slice distinct counts " +
          "double-count values present in multiple slices — use countdistincthll")
      case e => mergeAgg(stripSort(q0), Broker.splitAvg(e))
    }
  }

  /** Grouped top-k cannot be distributed by truncating per-instance
    * results; the full group set is fanned and merged (see class doc).
    */
  private def stripSort(q: AqlQuery): AqlQuery =
    q.copy(sorts = None, limit = Some(-1))

  private def mergeAgg(q: AqlQuery, measure: Expr): JValue = {
    val comps = Broker.components(measure).getOrElse(throw new IllegalArgumentException(
      s"broker cannot merge measure '${q.measures.head.sqlExpression}'"))
    val waves = comps.map(c => Future(gather(q, c)))
    val leaves = comps.zip(awaitGather(Future.sequence(waves), slices, 30.seconds)).toMap
    val eval = Broker.evaluator(measure, leaves)
    // a dimensionless answer is always `{measure: leaf}`, like an
    // instance's; grouped paths are the union over components — a path
    // one component lacks (its wave saw other rows) evaluates to null,
    // never a dropped group
    val paths =
      if (q.dimensionList.isEmpty) Seq(List(measureName(q)))
      else comps.iterator.flatMap(c => leaves(c).keysIterator).distinct.toSeq
    ResultShaper.tree(paths.map(p => p -> eval(p).fold[JValue](JNull)(JDouble(_))))
  }

  private def measureName(q: AqlQuery): String =
    q.measures.head.alias.filter(_.nonEmpty).getOrElse("value")

  /** One aggregate component's scatter, folded per flat dimension path. */
  private def gather(q: AqlQuery, c: Expr.Call): Broker.Leaves = {
    val cq = q.copy(measures = Seq(q.measures.head.copy(sqlExpression = Render(c))))
    if (Broker.HllOps(c.name)) {
      val (_, _, merged) = gatherHll(cq)
      merged.map { case (key, regs) =>
        val path =
          if (q.dimensionList.isEmpty) List(measureName(q))
          else key.map(_.fold("NULL")(_.toString))
        path -> Some(Hll.estimate(regs).toDouble)
      }
    } else scatterJson(cq).map(Broker.flatten).reduce(Broker.foldLeaves(c.name))
  }

  // ---- scatter ------------------------------------------------------------

  /** Returns the body plus the instance's `X-Graft-Assignment-Version`
    * header (the assignment version its slice serving planned against —
    * absent for non-sliced deployments) and its `X-Graft-Archive-Epoch`
    * header (the drain-marker state every shared-archive read observed —
    * [[ArchiveEpoch]]; absent when the query read no shared archive).
    */
  private def post(host: String, body: String,
      accept: String): (Array[Byte], Option[String], Option[String]) = {
    val req = HttpRequest.newBuilder(URI.create(s"$host/query/aql"))
      .timeout(timeout)
      .header("Content-Type", "application/json")
      .header("Accept", accept)
      .POST(HttpRequest.BodyPublishers.ofString(body, StandardCharsets.UTF_8))
      .build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofByteArray())
    if (resp.statusCode() != 200) {
      val msg = s"instance $host returned ${resp.statusCode()}: " +
        new String(resp.body(), StandardCharsets.UTF_8).take(200)
      if (resp.statusCode() >= 400 && resp.statusCode() < 500)
        throw new Broker.ClientError(msg)
      throw new IllegalStateException(msg)
    }
    (resp.body(),
      Option(resp.headers().firstValue("X-Graft-Assignment-Version").orElse(null)),
      Option(resp.headers().firstValue("X-Graft-Archive-Epoch").orElse(null)))
  }

  /** One fan-out wave with ASSIGNMENT-VERSION consistency: every slice
    * must have served under the same published assignment version, or a
    * rebalance published mid-wave — the old owner of a moved day planned
    * against v(n) and the new owner against v(n+1), so that day could be
    * answered by both (double count) or neither (undercount) WITHIN this
    * one wave. Mixed versions retry the whole wave (the next wave plans
    * uniformly post-publish); still mixed after `trials` waves fails
    * loudly. Cross-WAVE drift (e.g. between avg's sum and count waves)
    * needs no retry: each wave is individually exact, and a group-set
    * mismatch between waves surfaces as a null leaf, never a silently
    * wrong number (see mergeAgg).
    */
  private def consistentWave[T](body: String, accept: String)(
      parse: Array[Byte] => T): Seq[T] = {
    var attempt = 0
    while (true) {
      val ss = slices
      val futures = ss.map(s => Future(fetch(s, body, accept)))
      val got = awaitGather(Future.sequence(futures), ss)
      val versions = got.flatMap(_._2).distinct
      // archive-epoch consistency (the drain-commit analogue of the
      // assignment-version check): a backfill/compaction swapping day
      // directories in the shared archive mid-wave means one slice's
      // listing (or the old owner's stranded-delta deferral read) may sit
      // on the other side of the commit — a moved day's rows answered by
      // neither member or both WITHIN this wave. A torn token means one
      // slice itself observed the swap window; mixed tokens mean the
      // commit landed between two slices' reads. Either way the merge
      // would be silently wrong — retry (the swap window is renames-only,
      // milliseconds) and fail loudly if it never settles.
      val epochs = got.flatMap(_._3).distinct
      val epochsTorn = epochs.contains(ArchiveEpoch.Torn) || epochs.length > 1
      if (versions.length <= 1 && !epochsTorn) return got.map(g => parse(g._1))
      attempt += 1
      if (attempt >= trials) throw new IllegalStateException(
        if (versions.length > 1)
          "scatter straddled a rebalance: slices answered under assignment " +
            s"versions ${versions.mkString(", ")} after $attempt waves"
        else
          "scatter straddled an archive rewrite: slices answered under " +
            s"archive epochs ${epochs.mkString(", ")} after $attempt waves")
      log.warn(s"scatter saw ${
        if (versions.length > 1) s"mixed assignment versions ${versions.mkString(", ")}"
        else s"unsettled archive epochs ${epochs.mkString(", ")}"
      } — retrying the wave")
      Thread.sleep(200)
    }
    throw new IllegalStateException("unreachable")
  }

  private def requestBody(q: AqlQuery): String = {
    implicit val formats: Formats = DefaultFormats
    org.json4s.jackson.Serialization.write(Map("queries" -> Seq(q)))
  }

  /** One AQLQueryResult per instance (concurrent fan-out, ref
    * query_plan_agg.go fetches datanodes in parallel goroutines).
    */
  private def scatterJson(q: AqlQuery): Seq[JValue] = {
    val body = requestBody(q)
    consistentWave(body, "application/json") { bytes =>
      val resp = JsonMethods.parse(new String(bytes, StandardCharsets.UTF_8))
      resp \ "errors" match {
        case JArray(errs) if errs.exists(_ != JNull) =>
          throw new IllegalStateException(
            s"slice failed: ${errs.collectFirst { case JString(x) => x }.getOrElse("?")}")
        case _ =>
      }
      (resp \ "results") (0)
    }
  }

  // ---- HLL (register-max over binary partials) ----------------------------

  /** Merged BINARY HLL response — the reference broker's ReturnHLLBinary
    * path (query_plan_agg.go postProcessHLLBinary): the same gather and
    * register merge as the JSON answer, re-encoded as ONE result block. A
    * client written against the reference's `application/hll` wire parses
    * the broker's response unchanged.
    */
  def aqlHllBinary(q0: AqlQuery): Array[Byte] = {
    val q = stripSort(Broker.pinNow(q0))
    ExprParser.parse(q.measures.head.sqlExpression) match {
      case Expr.Call(op, _) if Broker.HllOps(op) =>
      case _ => throw new IllegalArgumentException(
        "application/hll requires an HLL measure")
    }
    val (dataTypes, isEnum, merged) = gatherHll(q)
    // fresh dictionaries over the merged case set; the writer re-derives
    // dim types from their sizes (a SmallEnum dim can widen to BigEnum
    // after the merge) and re-slots widths the way an instance does
    val dicts: Map[Int, Seq[String]] = isEnum.indices.filter(isEnum).map { d =>
      d -> merged.keys.flatMap(_(d)).map(_.toString).toSeq.distinct.sorted
    }.toMap
    RefHllWire.encodeResult(isEnum.length, dicts, dataTypes, merged)
  }

  /** Fetch per-instance binary partials and merge registers by
    * element-wise max per group. Per-instance enum dictionaries are LOCAL
    * (each instance dictionary-encodes the strings it saw), so groups key
    * on decoded values: the dictionary string for an enum dim, the raw
    * number otherwise. Returns the wire's dim types, which dims are
    * enum-typed, and the merged registers per group.
    */
  private def gatherHll(q: AqlQuery): (Seq[Long], IndexedSeq[Boolean],
      mutable.LinkedHashMap[List[Option[Any]], Array[Byte]]) = {
    val blocks = consistentWave(requestBody(q), "application/hll") { bytes =>
      RefHllWire.readResults(bytes).head match {
        case Right(b) => b
        case Left(err) => throw new IllegalStateException(s"instance error: $err")
      }
    }
    val dataTypes = blocks.head.dataTypes
    // a dim is enum-typed if ANY instance shipped a dictionary for it (an
    // instance with no rows ships none)
    val isEnum = dataTypes.indices.map(d => blocks.exists(_.enumDicts.contains(d)))
    val merged = mutable.LinkedHashMap.empty[List[Option[Any]], Array[Byte]]
    blocks.foreach { block =>
      block.rows.zipWithIndex.foreach { case (row, r) =>
        val key: List[Option[Any]] = isEnum.indices.map { d =>
          if (isEnum(d)) block.dimString(r, d) else row.dims(d)
        }.toList
        merged.get(key) match {
          case Some(regs) => Hll.mergeInto(regs, row.registers)
          case None => merged(key) = row.registers.clone()
        }
      }
    }
    (dataTypes, isEnum, merged)
  }

  // ---- non-agg (concat + limit; sorted → distributed top-k) ---------------

  /** Unsorted: concat per-instance rows, re-apply the limit (the
    * reference broker's streaming plan). Sorted: the sorts AND limit stay
    * pushed — each instance returns its LOCAL top-k (executed as
    * TakeOrderedAndProject) — and the root re-sorts the concatenation on
    * the same keys before taking the limit, which is exactly distributed
    * top-k (the union of per-slice top-k contains the global top-k). The
    * single-instance ORDER BY extension thus survives the broker tier
    * instead of silently degrading to arbitrary concat order; an unknown
    * sort field fails loudly. The reference itself parses but never
    * executes `sorts` — this mirrors our single-instance behavior choice
    * (AqlCompiler's documented deliberate difference).
    */
  private def mergeNonAgg(q0: AqlQuery): JValue = {
    val sortFields = q0.sorts.getOrElse(Nil).filter(_.name.nonEmpty)
    val parts = scatterJson(if (sortFields.isEmpty) q0.copy(sorts = None) else q0)
    val headers = parts.head \ "headers"
    val headerNames = headers match {
      case JArray(hs) => hs.collect { case JString(h) => h }
      case _ => Nil
    }
    val rows = parts.flatMap(p => (p \ "matrixData") match {
      case JArray(rs) => rs
      case _ => Nil
    })
    val ordered =
      if (sortFields.isEmpty) rows
      else {
        val keys = sortFields.map { f =>
          val i = headerNames.indexOf(f.name)
          if (i < 0) throw new IllegalArgumentException(
            s"sort field '${f.name}' is not a reported dimension " +
              s"(headers: ${headerNames.mkString(", ")})")
          (i, f.order.exists(_.equalsIgnoreCase("desc")))
        }
        rows.sortWith((a, b) => compareByKeys(a, b, keys) < 0)
      }
    val limited = q0.limit match {
      case Some(l) if l >= 0 => ordered.take(l)
      case _ => ordered
    }
    JObject("headers" -> headers, "matrixData" -> JArray(limited.toList))
  }

  /** Wire rows are formatted strings; compare numerically when both
    * cells parse as numbers (the dimval number formats), lexicographically
    * otherwise. NULL follows Spark's defaults: first under asc, last
    * under desc — so the root order matches what one instance renders.
    */
  private def compareByKeys(a: JValue, b: JValue,
      keys: Seq[(Int, Boolean)]): Int = {
    def cell(r: JValue, i: Int): Option[String] = r match {
      case JArray(cs) if i < cs.length => cs(i) match {
        // the wire renders SQL NULL as the string "NULL"
        // (ResultShaper.NullString) — map it back so null placement
        // matches the instance-local Spark sort
        case JString("NULL") => None
        case JString(s) => Some(s)
        case JNull => None
        case other => Some(JsonMethods.compact(JsonMethods.render(other)))
      }
      case _ => None
    }
    keys.foreach { case (i, desc) =>
      val (x, y) = (cell(a, i), cell(b, i))
      val cmp = (x, y) match {
        case (None, None) => 0
        case (None, _) => if (desc) 1 else -1
        case (_, None) => if (desc) -1 else 1
        case (Some(s), Some(t)) =>
          val n = (s.toDoubleOption, t.toDoubleOption) match {
            case (Some(u), Some(v)) => java.lang.Double.compare(u, v)
            case _ => s.compareTo(t)
          }
          if (desc) -n else n
      }
      if (cmp != 0) return cmp
    }
    0
  }
}

object Broker {
  /** A 4xx from an instance: the request itself is at fault — propagated
    * without replica retries or health demotion (see [[Broker.fetch]]).
    */
  final class ClientError(msg: String) extends IllegalStateException(msg)

  /** Parse the static `hosts` encoding: one entry per slice, `|`-separated
    * replica URLs within an entry.
    */
  private[exec] def staticSlices(hosts: Seq[String]): Seq[Seq[String]] = {
    require(hosts.nonEmpty, "broker needs at least one instance")
    hosts.map(_.split('|').map(_.trim).filter(_.nonEmpty).toSeq)
  }

  // ---- the merge algebra (result_merge.go:42-141) -------------------------

  /** One component's answer: a leaf per flat dimension path (the
    * measure-name singleton for a dimensionless answer), None for null.
    */
  private[exec] type Leaves = collection.Map[List[String], Option[Double]]

  private val FoldOps = Set("sum", "count", "min", "max")
  private val HllOps = Set("countdistincthll", "hll")

  /** The request with `now` fixed once, at the broker's epoch second when
    * the client gave none. Every member and every component wave (avg's
    * sum and count, a derived measure's aggregates) then resolves relative
    * times such as `-1d`, `today` or a missing `to` against the same
    * instant; without it each compile falls back to its own clock and a
    * request straddling a second or a day boundary merges mixed windows.
    */
  private def pinNow(q: AqlQuery): AqlQuery =
    if (q.now.isDefined) q else q.copy(now = Some(System.currentTimeMillis() / 1000))

  /** The reference's avg split (splitAvgQuery, query_plan_agg.go:439-469):
    * `avg(a)` becomes `sum(a) / count(a)`, the null-skipping count the
    * instance's own avg divides by.
    */
  private[exec] def splitAvg(e: Expr): Expr = e match {
    case Expr.Call("avg", Seq(a)) =>
      Expr.Binary(BinOp.Div, Expr.Call("sum", Seq(a)), Expr.Call("count", Seq(a)))
    case Expr.Paren(inner) => Expr.Paren(splitAvg(inner))
    case Expr.Binary(op, l, r) => Expr.Binary(op, splitAvg(l), splitAvg(r))
    case other => other
  }

  private def isArith(op: BinOp): Boolean = op match {
    case BinOp.Add | BinOp.Sub | BinOp.Mul | BinOp.Div | BinOp.Mod => true
    case _ => false
  }

  /** The distinct aggregate components of a mergeable measure: one HLL
    * call alone, or arithmetic over numeric literals and sum / count /
    * min / max calls with at least one call. None for anything else —
    * countdistinct, HLL inside arithmetic (its paths are the binary
    * wire's raw values, not the JSON labels), literal-only arithmetic.
    */
  private def components(e: Expr): Option[Seq[Expr.Call]] = {
    def walk(x: Expr): Option[Seq[Expr.Call]] = x match {
      case Expr.Paren(inner) => walk(inner)
      case Expr.Num(_, _, _) => Some(Nil)
      case c @ Expr.Call(op, _) if FoldOps(op) => Some(Seq(c))
      case Expr.Binary(op, l, r) if isArith(op) =>
        for (a <- walk(l); b <- walk(r)) yield a ++ b
      case _ => None
    }
    e match {
      case c @ Expr.Call(op, _) if HllOps(op) => Some(Seq(c))
      case _ => walk(e).map(_.distinct).filter(_.nonEmpty)
    }
  }

  /** A measure compiled once into a function of the group path. Null
    * propagates; division by zero folds to null (a single instance's IEEE
    * division would render Infinity — the broker's null is deliberate).
    */
  private[exec] def evaluator(e: Expr,
      leaves: Map[Expr.Call, Leaves]): List[String] => Option[Double] = e match {
    case Expr.Paren(inner) => evaluator(inner, leaves)
    case Expr.Num(v, _, _) => _ => Some(v)
    case c: Expr.Call =>
      val ls = leaves(c)
      p => ls.getOrElse(p, None)
    case Expr.Binary(op, l, r) =>
      val (f, g) = (evaluator(l, leaves), evaluator(r, leaves))
      p => for {
        a <- f(p)
        b <- g(p)
        v <- op match {
          case BinOp.Add => Some(a + b)
          case BinOp.Sub => Some(a - b)
          case BinOp.Mul => Some(a * b)
          case BinOp.Div => if (b == 0) None else Some(a / b)
          // pmod, matching the single-instance compile (ExprCompiler)
          case BinOp.Mod => if (b == 0) None else Some(((a % b) + b) % b)
          case _ => None
        }
      } yield v
    case other => throw new IllegalArgumentException(
      s"not a mergeable measure term: ${Render(other)}")
  }

  /** An instance's result tree as flat paths: dim-key chains for grouped
    * results, the measure-name singleton for dimensionless ones.
    */
  private[exec] def flatten(v: JValue): Leaves = {
    val out = mutable.LinkedHashMap.empty[List[String], Option[Double]]
    def walk(x: JValue, rev: List[String]): Unit = x match {
      case JObject(fields) => fields.foreach { case (k, c) => walk(c, k :: rev) }
      case JNull => out(rev.reverse) = None
      // Wire contract: measure leaves are float64, exactly as a single
      // instance renders them (ResultShaper.leafOf), and the broker
      // re-emits JDouble — `199.0` from one instance stays `199.0`
      case JDouble(d) => out(rev.reverse) = Some(d)
      case JInt(i) => out(rev.reverse) = Some(i.toDouble)
      case JLong(l) => out(rev.reverse) = Some(l.toDouble)
      case JDecimal(d) => out(rev.reverse) = Some(d.toDouble)
      case other => throw new IllegalStateException(
        s"non-numeric measure leaf ${other.getClass.getSimpleName} at ${rev.reverse.mkString("/")}")
    }
    walk(v, Nil)
    out
  }

  /** Fold two partials of one component per path. Spec-visible
    * (BrokerMergeAlgebraSpec): partials reduce in arrival order, so the
    * fold must be associative and commutative; a path missing on one side
    * and a null leaf are identities, never zeros.
    */
  private[exec] def foldLeaves(op: String)(a: Leaves, b: Leaves): Leaves = {
    val out = mutable.LinkedHashMap.from(a)
    b.foreach { case (path, y) =>
      out(path) = (out.getOrElse(path, None), y) match {
        case (Some(u), Some(v)) => Some(op match {
          case "sum" | "count" => u + v
          case "min" => math.min(u, v)
          case "max" => math.max(u, v)
        })
        case (u, v) => u.orElse(v)
      }
    }
    out
  }

  /** Broker over a [[BrokerTopology]]: the slice map re-resolves per
    * query, so instances registered after construction join the fan-out
    * and stale members are demoted without a restart.
    */
  def dynamic(topology: BrokerTopology,
      timeout: Duration = Duration.ofSeconds(120), trials: Int = 3,
      healthMemoryMillis: Long = 60000, deadlineSeconds: Long = 0): Broker =
    new Broker(() => topology.slices(), timeout, trials, healthMemoryMillis,
      deadlineSeconds)
}
