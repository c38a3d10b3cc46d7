package servebench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The serial attribution pass of a traced run: each distinct request is
  * sent through the broker alone, so every member span and Spark job in
  * its window belongs to it. Each member call is then replayed in process
  * on that member's catalog, timed at the public entry of each layer:
  * `AqlJson.parseQuery` -> `AqlCompiler.compile` ->
  * `queryExecution.executedPlan` -> `ResultShaper.shape`.
  */
final case class Replay(parseMs: Double, compileMs: Double, planMs: Double, shapeMs: Double,
    shapeSelfMs: Double, httpMs: Double)
final case class ReqTrace(clientMs: Double, ok: Boolean, bytes: Long, resultRows: Long,
    spark: Work, memberMs: Seq[Double], brokerSelfMs: Double, retries: Int,
    replays: Seq[Replay])

final class Attribution(spark: SparkSession, topo: Topology, spans: Spans, val counters: SparkCounters) {
  private val compilers = topo.memberCatalogs.map(c => new graft.aql.AqlCompiler(c, spark))
  private def flush(): Unit = org.apache.spark.servebench.ListenerBus.flush(spark.sparkContext)

  private def spansIn(name: String, t0: Long, t1: Long): Seq[Span] =
    spans.all.asScala.filter(s => s.name == name && s.start >= t0 && s.end <= t1).toSeq

  /** Re-record `s` under `parent` and `req` (relay spans arrive unparented). */
  private def adopt(s: Span, parent: Long, req: Long): Span = {
    spans.all.remove(s)
    val a = s.copy(parent = parent, req = req)
    spans.all.add(a)
    a
  }

  def resultRows(v: JValue): Long = v match {
    case JObject(fs) if fs.exists(_._1 == "matrixData") => v \ "matrixData" match {
      case JArray(rs) => rs.length.toLong
      case _ => 0L
    }
    case JObject(fs) => fs.map(f => resultRows(f._2)).sum
    case _ => 1L
  }

  def request(req: Req): ReqTrace = {
    val reqId = spans.nextId()
    flush()
    val before = counters.totals
    val t0 = System.nanoTime()
    val (status, body) = Http.post(topo.brokerUrl, req.body)
    val t1 = System.nanoTime()
    flush()
    val work = counters.totals - before
    val result = Check.firstResult(body)
    val client = spans.add("client", t0, t1, req = reqId,
      attrs = Map("request" -> req.name, "status" -> status, "bytes" -> body.length))
    val members = spansIn("member", t0, t1).map(adopt(_, client.id, reqId))
    spansIn("spark.job", t0, t1).foreach(adopt(_, client.id, reqId))
    val memberMs = members.map(_.ms)
    val retries = members.count(_.attrs.get("status").exists(_ != 200)) +
      (members.size - members.map(m => (m.attrs("member"), m.attrs.getOrElse("body", ""))).distinct.size)
    val replays = members.filter(_.attrs.get("status").contains(200)).map(m => replay(m, reqId))
    ReqTrace(client.ms, status == 200 && result.isRight, body.length.toLong,
      result.map(resultRows).getOrElse(0L), work, memberMs,
      spans.selfMs(client, members), retries, replays)
  }

  private def replay(member: Span, reqId: Long): Replay = {
    val i = member.attrs("member").asInstanceOf[Int]
    val queryJson = JsonMethods.compact(JsonMethods.render(
      (JsonMethods.parse(member.attrs("body").asInstanceOf[String]) \ "queries")(0)))
    flush()
    val p0 = System.nanoTime()
    val q = graft.aql.AqlJson.parseQuery(queryJson)
    val p1 = System.nanoTime()
    val compiled = compilers(i).compile(q)
    val p2 = System.nanoTime()
    compiled.df.queryExecution.executedPlan
    val p3 = System.nanoTime()
    graft.exec.ResultShaper.shape(compiled)
    val p4 = System.nanoTime()
    flush()
    val top = spans.add("replay", p0, p4, member.id, reqId, Map("member" -> i))
    spans.add("aql.parse", p0, p1, top.id, reqId)
    spans.add("aql.compile", p1, p2, top.id, reqId)
    spans.add("catalyst.plan", p2, p3, top.id, reqId)
    val shape = spans.add("exec.shape", p3, p4, top.id, reqId)
    // job times arrive in whole milliseconds, so allow the last one to end up to 2 ms late
    val jobs = spansIn("spark.job", p3, p4 + 2000000L).map(adopt(_, shape.id, reqId))
    Replay((p1 - p0) / 1e6, (p2 - p1) / 1e6, (p3 - p2) / 1e6, (p4 - p3) / 1e6,
      spans.selfMs(shape, jobs), member.ms - (p4 - p0) / 1e6)
  }
}

/** Per-layer metrics of the query path from the serial pass. */
object QueryLayers {
  def metrics(ts: Seq[ReqTrace]): Seq[(String, Double, String)] = {
    val n = math.max(1, ts.size).toDouble
    val rs = ts.flatMap(_.replays)
    val sum = ts.map(_.spark).reduceOption(_ + _)
    def per(f: Work => Double): Double = sum.map(f).getOrElse(0.0) / n
    val resultRows = ts.map(_.resultRows).sum
    Seq(
      ("aql.parse_ms", Stats.median(rs.map(_.parseMs)), "ms"),
      ("aql.compile_ms", Stats.median(rs.map(_.compileMs)), "ms"),
      ("catalyst.plan_ms", Stats.median(rs.map(_.planMs)), "ms"),
      ("spark.jobs_per_req", per(_.jobs.toDouble), "count"),
      ("spark.stages_per_req", per(_.stages.toDouble), "count"),
      ("spark.tasks_per_req", per(_.tasks.toDouble), "count"),
      ("spark.task_ms_per_req", per(_.taskMs), "ms"),
      ("spark.task_cpu_ms_per_req", per(_.cpuMs), "ms"),
      ("spark.shuffle_bytes_per_req", per(_.shuffleBytes.toDouble), "bytes"),
      ("spark.spill_bytes", sum.map(_.spillBytes.toDouble).getOrElse(0.0), "bytes"),
      ("spark.input_rows_per_result_row",
        sum.map(_.inputRows.toDouble).getOrElse(0.0) / math.max(1L, resultRows), "ratio"),
      ("exec.shape_self_ms", Stats.median(rs.map(_.shapeSelfMs)), "ms"),
      ("exec.result_rows_per_req", resultRows / n, "count"),
      ("exec.response_bytes_per_req", ts.map(_.bytes).sum / n, "bytes"),
      ("api.http_ms", Stats.median(rs.map(_.httpMs)), "ms"),
      ("broker.self_ms", Stats.median(ts.map(_.brokerSelfMs)), "ms"),
      ("broker.fanout_per_req", ts.map(_.memberMs.size).sum / n, "count"),
      ("broker.member_skew", Stats.median(ts.filter(_.memberMs.nonEmpty).map { t =>
        t.memberMs.max / Stats.median(t.memberMs) }), "ratio"),
      ("replay.member_ms", Stats.median(rs.map(r => r.parseMs + r.compileMs + r.planMs + r.shapeMs)), "ms"))
  }
}
