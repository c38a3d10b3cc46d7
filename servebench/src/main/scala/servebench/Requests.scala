package servebench

import scala.util.Random

/** One AQL request as a client sends it: an AQLRequest body with one query. */
final case class Req(name: String, body: String)

/** Seeded request pools. Every pool holds each template of its workload
  * once, with seed-drawn windows, dimensions and filter constants, so two
  * seeds give different requests of the same shapes and costs. Templates
  * stay inside the vocabulary the broker merges.
  */
object Requests {
  private val End = Inputs.dayEpoch(Inputs.Days)

  private def query(measure: String, dims: Seq[String], from: Long, to: Long,
      filters: Seq[String] = Nil, extra: String = ""): String = {
    val fs = if (filters.isEmpty) "" else
      filters.map(f => "\"" + f + "\"").mkString(""""rowFilters": [""", ", ", "], ")
    s"""{"queries": [{"table": "events", $fs"measures": [{"alias": "value", "sqlExpression": "$measure"}], "dimensions": [${dims.mkString(", ")}], "timeFilter": {"from": "$from", "to": "$to"}, "now": $End$extra}]}"""
  }

  private def dim(alias: String, expr: String): String =
    s"""{"alias": "$alias", "sqlExpression": "$expr"}"""
  private val Hour = """{"alias": "h", "sqlExpression": "ts", "timeBucketizer": "hour"}"""
  private val EventType = dim("et", "event_type")

  /** A `days`-long window at a seed-drawn offset inside `[firstDay, Days)`. */
  private def window(r: Random, days: Int, firstDay: Int = 0): (Long, Long) = {
    val start = firstDay + r.nextInt(Inputs.Days - firstDay - days + 1)
    (Inputs.dayEpoch(start), Inputs.dayEpoch(start + days))
  }

  private def pickType(r: Random): String = Inputs.EventTypes(r.nextInt(Inputs.EventTypes.size))

  /** Narrow dashboard queries: 1-2 day windows (3-7k rows per query at the
    * base size), so fixed per-query costs dominate. Each template keeps its
    * window length and dimensions for every seed, so seeds change which
    * rows a request reads but not how much work it is.
    */
  def dash(seed: Long, firstDay: Int = 0): IndexedSeq[Req] = {
    val r = new Random(seed)
    def q(name: String, days: Int)(body: ((Long, Long)) => String): Req =
      Req(name, body(window(r, days, firstDay)))
    IndexedSeq(
      q("count", 2) { case (f, t) => query("count(*)", Seq(EventType), f, t) },
      q("sum_hour", 1) { case (f, t) => query("sum(value)", Seq(Hour), f, t) },
      q("min_filtered", 2) { case (f, t) =>
        query("min(value)", Seq(EventType), f, t, Seq(s"value > ${r.nextInt(150)}")) },
      q("max_mod", 1) { case (f, t) =>
        query("max(value)", Seq(dim("b", s"user_id % ${Seq(5, 10, 20)(r.nextInt(3))}")), f, t) },
      q("avg_hour", 2) { case (f, t) => query("avg(value)", Seq(Hour), f, t) },
      q("derived_rate", 1) { case (f, t) =>
        query("sum(value) / count(*)", Seq(EventType), f, t, Seq(s"event_type != '${pickType(r)}'")) },
      q("hll_users", 2) { case (f, t) => query("countdistincthll(user_id)", Seq(EventType), f, t) },
      q("nonagg_limit", 1) { case (f, t) =>
        query("1", Seq(dim("eid", "event_id"), EventType), f, t,
          Seq(s"user_id = ${r.nextInt(Inputs.Users)}"), """, "limit": 50""") },
      q("topk", 2) { case (f, t) =>
        query("sum(value)", Seq(dim("u", "user_id % 100")), f, t, Nil,
          """, "limit": 10, "sorts": [{"name": "value", "order": "desc"}]""") })
  }

  /** Wide scans: 14-30 day windows with high-cardinality groupings, avg,
    * a broadcast join, HLL, non-agg and top-k; window lengths and
    * groupings are fixed per template, as in [[dash]].
    */
  def scan(seed: Long): IndexedSeq[Req] = {
    val r = new Random(seed)
    def q(name: String, days: Int)(body: ((Long, Long)) => String): Req =
      Req(name, body(window(r, days)))
    val join = """, "joins": [{"table": "customer", "conditions": ["events.user_id = customer.c_custkey"]}]"""
    IndexedSeq(
      q("avg_user_type", 30) { case (f, t) =>
        query("avg(value)", Seq(dim("u", "user_id"), EventType), f, t) },
      q("sum_hour_type", 21) { case (f, t) => query("sum(value)", Seq(Hour, EventType), f, t) },
      q("hll_type", 30) { case (f, t) => query("countdistincthll(user_id)", Seq(EventType), f, t) },
      q("join_segment", 21) { case (f, t) =>
        query("sum(value)", Seq(dim("seg", "customer.c_mktsegment")), f, t, Nil, join) },
      q("nonagg_limit", 14) { case (f, t) =>
        query("1", Seq(dim("eid", "event_id"), dim("v", "value")), f, t,
          Seq(s"user_id = ${r.nextInt(Inputs.Users)}", s"event_type = '${pickType(r)}'"),
          """, "limit": 2000""") },
      q("topk_user", 30) { case (f, t) =>
        query("sum(value)", Seq(dim("u", "user_id")), f, t, Nil,
          """, "limit": 20, "sorts": [{"name": "value", "order": "desc"}]""") })
  }

  /** Dashboard queries over the last three days, which the upserts land in. */
  def recent(seed: Long): IndexedSeq[Req] = dash(seed, Inputs.Days - 3)

  /** Ingest check queries over every day. */
  def countByDay: String = query("count(*)",
    Seq("""{"alias": "d", "sqlExpression": "ts", "timeBucketizer": "day"}"""),
    Inputs.FirstDay, End)
  def sumByDay: String = query("sum(value)",
    Seq("""{"alias": "d", "sqlExpression": "ts", "timeBucketizer": "day"}"""),
    Inputs.FirstDay, End)
  def warm: String = query("count(*)", Nil, Inputs.FirstDay, End)
}
