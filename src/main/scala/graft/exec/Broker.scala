package graft.exec

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.DurationInt

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.aql.{AqlJson, AqlMeasure, AqlQuery, BinOp, Expr, ExprParser, Render}
import graft.functions.Hll

/** Scatter-gather broker over N running [[graft.api.GraftServer]]
  * instances — the reference's broker tier re-expressed for the HTTP
  * facade. The reference builds a merge tree over datanode partials
  * (/root/reference/broker/query_plan_agg.go:218-255) and folds results
  * recursively in place (result_merge.go:42-141); the fold algebra is:
  *
  *   - sum / count → add,  min / max → compare
  *   - avg → TWO scattered subqueries (sum + count(*),
  *     query_plan_agg.go:239-245 + splitAvgQuery:439-469), each merged
  *     additively, divided leaf-wise at the root (result_merge.go Avg)
  *   - HLL → the `application/hll` binary bodies are fetched instead of
  *     JSON estimates, registers merged by element-wise max (the HLL
  *     semilattice), and the ESTIMATE computed once over the merged
  *     sketch — merging estimates would double-count overlap
  *   - non-agg → matrixData concatenated, explicit limit re-applied
  *   - derived measures (`sum(a) / count(*)`, the single-instance
  *     extension) → one scattered subquery per distinct aggregate
  *     component, each folded under its own algebra, arithmetic evaluated
  *     per group at the root — the avg split generalized
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
  * does not carry, matching the reference's HLL response contract.
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

  def merged(q0: AqlQuery): JValue = {
    require(q0.measures.length == 1,
      "broker merges single-measure queries (the reference compiler enforces the same)")
    val parsed = ExprParser.parse(q0.measures.head.sqlExpression)
    parsed match {
      case Expr.Num(1.0, _, true) => mergeNonAgg(q0)
      case Expr.Call("avg", Seq(arg)) =>
        // ref splitAvgQuery: same filters/dims, measure rewritten; aliases
        // kept identical so the two trees share leaf keys. The two
        // subqueries scatter CONCURRENTLY (the reference fans both plans
        // in one wave, query_plan_agg.go:239-245) — behind a
        // multithreaded instance the pair costs ~one query's wall time
        val m = q0.measures.head
        val sumsF = Future(scatterJson(stripSort(q0).copy(measures =
          Seq(m.copy(sqlExpression = s"sum(${Render(arg)})"))))
          .reduce(mergeTrees("sum")))
        val countsF = Future(scatterJson(stripSort(q0).copy(measures =
          Seq(m.copy(sqlExpression = "count(*)"))))
          .reduce(mergeTrees("count")))
        val (sums, counts) =
          awaitGather(sumsF.zip(countsF), slices, 30.seconds)
        mergeTrees("avg")(sums, counts)
      case Expr.Call(op, _) if op == "sum" || op == "count" || op == "min" || op == "max" =>
        scatterJson(stripSort(q0)).reduce(mergeTrees(op))
      case Expr.Call(op, _) if op == "countdistincthll" || op == "hll" =>
        mergeHll(stripSort(q0))
      // exact distinct is NOT distributable by summing per-slice counts —
      // a value appearing in two slices would count twice. Reject loudly
      // with the supported alternative (same policy for distinct inside
      // derived arithmetic: countdistinct is absent from MergeableAggs)
      case Expr.Call("countdistinct", _) => throw new IllegalArgumentException(
        "broker cannot merge count(distinct ...): per-slice distinct counts " +
          "double-count values present in multiple slices — use countdistincthll")
      case e if derivedShape(e) => mergeDerived(stripSort(q0), e)
      case other => throw new IllegalArgumentException(
        s"broker cannot merge measure '${q0.measures.head.sqlExpression}'")
    }
  }

  /** Grouped top-k cannot be distributed by truncating per-instance
    * results; the full group set is fanned and merged (see class doc).
    */
  private def stripSort(q: AqlQuery): AqlQuery =
    q.copy(sorts = None, limit = Some(-1))

  // ---- derived measures (arithmetic over aggregates) ----------------------

  private val MergeableAggs = Set("sum", "count", "min", "max", "avg")

  private def isArith(op: BinOp): Boolean = op match {
    case BinOp.Add | BinOp.Sub | BinOp.Mul | BinOp.Div | BinOp.Mod => true
    case _ => false
  }

  /** Shape test for a DERIVED measure — arithmetic over aggregate subtrees
    * and numeric literals, the single-instance extension
    * ([[graft.aql.AqlCompiler]] measureColumn's Binary case, e.g.
    * `sum(fare) / count(*)`). Such a measure is NOT a semilattice fold —
    * `sum(a)/count(*)` partials cannot be averaged — so the broker
    * decomposes it: each distinct aggregate component scatters as its own
    * subquery (the generalization of the reference's avg split,
    * broker/query_plan_agg.go:439-469), each component's partials merge
    * under that aggregate's own fold, and the arithmetic is evaluated once
    * per group at the root. HLL components stay unsupported: their result
    * trees key dimensions by the binary wire's raw decoded values, not the
    * JSON path's formatted labels, so the key spaces cannot be joined.
    */
  private def derivedShape(e: Expr): Boolean = e match {
    // at least one aggregate component is required: literal-only arithmetic
    // (e.g. measure `2 + 3`) has zero components to scatter, and
    // mergeDerived would return an empty object — keep the degenerate
    // shape on the loud "cannot merge measure" path instead
    case Expr.Binary(op, l, r) if isArith(op) =>
      operandOk(l) && operandOk(r) && containsAgg(e)
    case Expr.Paren(inner) => derivedShape(inner)
    case _ => false
  }

  private def containsAgg(e: Expr): Boolean = e match {
    case Expr.Call(op, _) => MergeableAggs.contains(op)
    case Expr.Binary(_, l, r) => containsAgg(l) || containsAgg(r)
    case Expr.Paren(inner) => containsAgg(inner)
    case _ => false
  }

  private def operandOk(e: Expr): Boolean = e match {
    case Expr.Num(_, _, _) => true
    case Expr.Paren(inner) => operandOk(inner)
    case Expr.Call(op, _) => MergeableAggs.contains(op)
    case Expr.Binary(op, l, r) if isArith(op) => operandOk(l) && operandOk(r)
    case _ => false
  }

  private def mergeDerived(q: AqlQuery, e: Expr): JValue = {
    val m = q.measures.head
    def collect(x: Expr): Seq[Expr] = x match {
      case Expr.Paren(inner) => collect(inner)
      case c @ Expr.Call(_, _) => Seq(c)
      case Expr.Binary(_, l, r) => collect(l) ++ collect(r)
      case _ => Nil
    }
    // distinct components by rendered text: `sum(fare) / sum(fare)` fans
    // sum(fare) once
    val comps = collect(e).map(c => Render(c) -> c).distinctBy(_._1)
    // all components scatter in ONE concurrent wave (the avg pair inside a
    // component runs sequentially within its future — a component is
    // already one concurrent unit of the wave)
    val futures = comps.map { case (_, c) => Future(componentTree(q, m, c)) }
    val trees = awaitGather(Future.sequence(futures), slices, 30.seconds)
    val env: Map[String, Map[List[String], Option[Double]]] =
      comps.map(_._1).zip(trees.map(t => flattenLeaves(t))).toMap
    // union of leaf paths: well-formed partials group identically across
    // components (same dims, same filters, same rows), so a path missing
    // from one component means an upstream inconsistency — it surfaces as
    // a null leaf, never a dropped group
    val paths = env.valuesIterator.flatMap(_.keysIterator).toSeq.distinct
    paths.foldLeft(JObject(): JValue) { case (tree, path) =>
      val leaf = evalAt(e, path, env).map(JDouble(_): JValue).getOrElse(JNull)
      insert(tree, path, leaf)
    }
  }

  /** One aggregate component's merged tree (its own scatter + fold). */
  private def componentTree(q: AqlQuery, m: AqlMeasure, c: Expr): JValue = c match {
    case Expr.Call("avg", Seq(arg)) =>
      val sums = scatterJson(q.copy(measures =
        Seq(m.copy(sqlExpression = s"sum(${Render(arg)})")))).reduce(mergeTrees("sum"))
      val counts = scatterJson(q.copy(measures =
        Seq(m.copy(sqlExpression = "count(*)")))).reduce(mergeTrees("count"))
      mergeTrees("avg")(sums, counts)
    case Expr.Call(op, _) =>
      scatterJson(q.copy(measures = Seq(m.copy(sqlExpression = Render(c)))))
        .reduce(mergeTrees(op))
    case other => throw new IllegalArgumentException(
      s"not an aggregate component: ${Render(other)}")
  }

  /** Leaf paths of a merged JSON tree: dim-key chains for grouped results,
    * the measure-name singleton for dimensionless ones. Null / non-numeric
    * leaves flatten to None.
    */
  private def flattenLeaves(v: JValue,
      prefix: List[String] = Nil): Map[List[String], Option[Double]] = v match {
    case JObject(fields) =>
      fields.flatMap { case (k, c) => flattenLeaves(c, prefix :+ k) }.toMap
    case leaf => Map(prefix -> num(leaf))
  }

  /** Evaluate the derived arithmetic at one group path. Null propagates
    * (any null component leaf nulls the group); division by zero folds to
    * null — the broker algebra's avg convention (a single instance's
    * IEEE double division would render Infinity; the broker's null is the
    * deliberate semantic, consistent with its avg merge).
    */
  private def evalAt(e: Expr, path: List[String],
      env: Map[String, Map[List[String], Option[Double]]]): Option[Double] = e match {
    case Expr.Paren(inner) => evalAt(inner, path, env)
    case Expr.Num(v, _, _) => Some(v)
    case c @ Expr.Call(_, _) => env(Render(c)).getOrElse(path, None)
    case Expr.Binary(op, l, r) =>
      for {
        a <- evalAt(l, path, env)
        b <- evalAt(r, path, env)
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
    case _ => None
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
    * wrong number (see mergeDerived).
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

  // ---- merge algebra (result_merge.go:42-141) -----------------------------

  private def num(v: JValue): Option[Double] = v match {
    case JDouble(d) => Some(d)
    case JInt(i) => Some(i.toDouble)
    case JLong(l) => Some(l.toDouble)
    case JDecimal(d) => Some(d.toDouble)
    case _ => None
  }

  /** Spec-visible (BrokerMergeAlgebraSpec): the scatter results fold with
    * `.reduce(mergeTrees(op))`, so the algebra must be associative and
    * commutative for the merged answer to be independent of slice count
    * and arrival order — the fuzz pins that, including missing-key and
    * null-leaf identities.
    */
  private[exec] def mergeTrees(op: String)(lhs: JValue, rhs: JValue): JValue = (lhs, rhs) match {
    // a key MISSING on one side (matched FIRST so a null-on-A/absent-on-B
    // group folds to null, not to a render-dropped JNothing): passes
    // through for fold aggregates; for the avg root it means sum and count
    // grouped differently — impossible for well-formed partials, error
    // like the reference (result_merge.go:55-67)
    case (JNothing, r) =>
      if (op == "avg") throw new IllegalStateException(
        "avg merge: dimension has only a count branch")
      else r
    case (l, JNothing) =>
      if (op == "avg") throw new IllegalStateException(
        "avg merge: dimension has only a sum branch")
      else l
    // a NULL leaf (key present, value null — e.g. sum over an all-null
    // group): for avg the quotient is null (single-node parity; the
    // reference errors here, a strictness we deliberately soften), for the
    // other aggregates nulls are identity elements
    case (JNull, r) => if (op == "avg") JNull else r
    case (l, JNull) => if (op == "avg") JNull else l
    case (JObject(lf), JObject(rf)) =>
      val keys = (lf.map(_._1) ++ rf.map(_._1)).distinct
      JObject(keys.map(k => k -> mergeTrees(op)(lhs \ k, rhs \ k)): _*)
    case (l, r) =>
      // Wire contract: measure leaves are float64, exactly as a single
      // instance renders them (ResultShaper.leafOf coerces every numeric
      // leaf via doubleValue(), matching the reference's float64 result
      // values — result_merge.go merges float64s too). The broker
      // therefore re-emits JDouble without changing the shape a client
      // sees: `199.0` from one instance stays `199.0` behind the broker.
      // BrokerSpec pins broker-leaf-type == instance-leaf-type.
      (num(l), num(r)) match {
        case (Some(a), Some(b)) => op match {
          case "sum" | "count" => JDouble(a + b)
          case "min" => JDouble(math.min(a, b))
          case "max" => JDouble(math.max(a, b))
          case "avg" => if (b == 0) JNull else JDouble(a / b)
        }
        case _ => throw new IllegalStateException(
          s"merge type mismatch: ${l.getClass.getSimpleName} vs ${r.getClass.getSimpleName}")
      }
  }

  // ---- HLL (register-max over binary partials) ----------------------------

  /** Merged BINARY HLL response — the reference broker's ReturnHLLBinary
    * path (query_plan_agg.go postProcessHLLBinary): fetch per-instance
    * binary partials, register-max merge, re-encode ONE result block. A
    * client written against the reference's `application/hll` wire parses
    * the broker's response unchanged. Per-instance enum dictionaries are
    * LOCAL (each instance dictionary-encodes the strings it saw), so rows
    * merge on decoded strings and the output carries fresh dictionaries
    * over the merged case set.
    */
  def aqlHllBinary(queryJson: String): Array[Byte] = {
    val q = stripSort(AqlJson.parseQuery(queryJson))
    val parsed = ExprParser.parse(q.measures.head.sqlExpression)
    parsed match {
      case Expr.Call(op, _) if op == "countdistincthll" || op == "hll" =>
      case _ => throw new IllegalArgumentException(
        "application/hll requires an HLL measure")
    }
    val body = requestBody(q)
    val bodies = consistentWave(body, "application/hll")(identity)
    val blocks = bodies.map { bytes =>
      RefHllWire.readResults(bytes).head match {
        case Right(b) => b
        case Left(err) => throw new IllegalStateException(s"instance error: $err")
      }
    }
    val template = blocks.head
    val n = template.dataTypes.length
    // a dim is enum-typed if ANY instance shipped a dictionary for it (an
    // instance with no rows ships none)
    val isEnum = (0 until n).map(d => blocks.exists(_.enumDicts.contains(d)))
    // merge on decoded logical values: dictionary string for enum dims,
    // the raw number otherwise
    val merged = scala.collection.mutable.LinkedHashMap
      .empty[List[Option[Any]], Array[Byte]]
    blocks.foreach { block =>
      block.rows.zipWithIndex.foreach { case (row, r) =>
        val key: List[Option[Any]] = (0 until n).map { d =>
          if (isEnum(d)) block.dimString(r, d).map(identity[Any])
          else row.dims(d).map(identity[Any])
        }.toList
        merged.get(key) match {
          case Some(regs) => graft.functions.Hll.mergeInto(regs, row.registers)
          case None => merged(key) = row.registers.clone()
        }
      }
    }
    // fresh dictionaries over the merged case set; the writer re-derives
    // dim types from their sizes (a SmallEnum dim can widen to BigEnum
    // after the merge) and re-slots widths the way an instance does
    val dicts: Map[Int, Seq[String]] = (0 until n).flatMap { d =>
      if (!isEnum(d)) None
      else Some(d -> merged.keys.flatMap(_(d)).map(_.toString).toSeq.distinct.sorted)
    }.toMap
    RefHllWire.encodeResult(n, dicts, template.dataTypes, merged)
  }

  private def mergeHll(q: AqlQuery): JValue = {
    val body = requestBody(q)
    val bodies = consistentWave(body, "application/hll")(identity)
    // per-instance blocks → (dim keys → registers), merged by register max
    val merged = scala.collection.mutable.LinkedHashMap.empty[List[String], Array[Byte]]
    bodies.foreach { bytes =>
      val block = RefHllWire.readResults(bytes).head match {
        case Right(b) => b
        case Left(err) => throw new IllegalStateException(s"instance error: $err")
      }
      block.rows.zipWithIndex.foreach { case (row, r) =>
        val key = row.dims.indices
          .map(d => block.dimString(r, d).getOrElse("NULL")).toList
        merged.get(key) match {
          case Some(regs) => Hll.mergeInto(regs, row.registers)
          case None => merged(key) = row.registers.clone()
        }
      }
    }
    val measureName = q.measures.head.alias.filter(_.nonEmpty).getOrElse("value")
    if (q.dimensionList.isEmpty) {
      val est = merged.headOption
        .map(kv => JDouble(Hll.estimate(kv._2).toDouble)).getOrElse(JNull)
      return JObject(measureName -> est)
    }
    merged.foldLeft(JObject(): JValue) { case (tree, (key, regs)) =>
      insert(tree, key, JDouble(Hll.estimate(regs).toDouble))
    }
  }

  private def insert(tree: JValue, keys: List[String], leaf: JValue): JValue =
    keys match {
      case Nil => leaf
      case k :: rest =>
        val obj = tree match { case o: JObject => o; case _ => JObject() }
        val child = insert(obj \ k, rest, leaf)
        JObject(obj.obj.filterNot(_._1 == k) :+ (k -> child): _*)
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
