package graft.exec

import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import java.util.Locale

import org.json4s._

import graft.aql.{AqlCompiler, AqlDimension, Bucketizers}

/** Shapes a compiled query's rows into the reference's two JSON result
  * formats (/root/reference/query/common/aql_query_result.go:22-123):
  *
  *  - aggregate: nested map, one layer per dimension, keyed by the
  *    STRINGIFIED dimension value with `"NULL"` for nulls; the leaf is the
  *    float64 measure (or null). Time-dimension values are formatted per
  *    query/common/dimval.go:146-230: recurring bucketizers render
  *    calendar labels ("Monday 15:04", "15:04"), regular minute/hour/day
  *    buckets render UTC wall-clock strings, everything else (including
  *    month/quarter/year buckets) renders the numeric bucket-start epoch;
  *    a non-empty timeUnit instead scales the raw epoch
  *    (day/hour/minute/millisecond).
  *  - non-aggregate: {"headers": [...], "matrixData": [[...]]} with the
  *    same per-value stringification.
  *
  * The driver-side collect here mirrors the reference's postprocessor
  * (query/aql_postprocessor.go:35-161): grouped aggregate results are
  * small by construction — the heavy lifting happened distributed.
  */
object ResultShaper {

  private val NullString = "NULL"

  /** Hard cap on non-aggregate RESPONSE rows — the driver-memory
    * protection invariant: the rows stream through `toLocalIterator` (one
    * partition held at a time) but the serialized response itself lives on
    * the driver, so both `limit: -1` and an oversized explicit limit stop
    * here rather than OOM building the response. The reference streams
    * non-agg rows with early exit (aql_nonaggr_batchexecutor.go:58-117);
    * explicit limits are honored up to this cap.
    */
  val MaxNonAggResponseRows = 100000

  def shape(c: AqlCompiler.Compiled): JValue =
    if (c.isNonAgg) shapeNonAgg(c) else shapeAgg(c)

  private def dims(c: AqlCompiler.Compiled): Seq[AqlDimension] = {
    val declared = c.query.dimensionList
    // wildcard expansion produces more output columns than declared dims;
    // treat expanded columns as plain dimensions
    if (declared.exists(_.expr == "*"))
      c.dimNames.map(n => AqlDimension(alias = Some(n), sqlExpression = Some(n)))
    else declared
  }

  private def shapeAgg(c: AqlCompiler.Compiled): JValue = {
    val dimDefs = dims(c)
    val rows = c.df.collect()
    val n = dimDefs.length

    def leafOf(row: org.apache.spark.sql.Row): JValue =
      if (row.isNullAt(n)) JNull
      else JDouble(row.get(n) match {
        case d: java.lang.Number => d.doubleValue()
        case other => other.toString.toDouble
      })

    // dimensionless aggregate: single leaf keyed by the measure name
    if (n == 0) tree(Seq(List(c.measureName) -> rows.headOption.fold[JValue](JNull)(leafOf)))
    else tree(rows.toSeq.map { row =>
      (0 until n).map(i => formatDim(row.get(i), dimDefs(i))).toList -> leafOf(row)
    })
  }

  /** Nest flat paths into the JSON result tree in one pass, keys in
    * first-seen order; a repeated path keeps its last leaf. Shapes an
    * instance's rows here and the broker's merged paths
    * ([[Broker]]).
    */
  def tree(leaves: Seq[(List[String], JValue)]): JValue = {
    final class Node(var leaf: JValue = JNull) {
      val kids = scala.collection.mutable.LinkedHashMap.empty[String, Node]
    }
    val root = new Node
    leaves.foreach { case (path, v) =>
      path.foldLeft(root)((n, k) => n.kids.getOrElseUpdate(k, new Node)).leaf = v
    }
    def render(n: Node): JValue = JObject(n.kids.iterator.map { case (k, c) =>
      k -> (if (c.kids.isEmpty) c.leaf else render(c))
    }.toList)
    render(root)
  }

  private def shapeNonAgg(c: AqlCompiler.Compiled): JValue = {
    val dimDefs = dims(c)
    // stream partitions instead of collect(), exiting early at the
    // response cap (the compiled plan already bounds explicit limits;
    // the cap protects the driver-side response builder)
    val cap = MaxNonAggResponseRows
    val it = c.df.toLocalIterator()
    val out = List.newBuilder[JValue]
    var count = 0
    while (it.hasNext && count < cap) {
      val row = it.next()
      out += JArray((0 until c.dimNames.length).map { i =>
        val d = if (i < dimDefs.length) dimDefs(i) else AqlDimension()
        JString(formatDim(row.get(i), d))
      }.toList)
      count += 1
    }
    JObject(
      "headers" -> JArray(c.dimNames.map(JString(_)).toList),
      "matrixData" -> JArray(out.result()))
  }

  // ---- value formatting (dimval.go semantics) -----------------------------

  private val FmtMinute = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm", Locale.US)
    .withZone(ZoneOffset.UTC)
  private val FmtHour = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:00", Locale.US)
    .withZone(ZoneOffset.UTC)
  private val FmtDay = DateTimeFormatter.ofPattern("yyyy-MM-dd", Locale.US)
    .withZone(ZoneOffset.UTC)
  private val FmtHm = DateTimeFormatter.ofPattern("HH:mm", Locale.US)
    .withZone(ZoneOffset.UTC)
  private val FmtWeekdayHm = DateTimeFormatter.ofPattern("EEEE HH:mm", Locale.US)
    .withZone(ZoneOffset.UTC)
  private val FmtWeekday = DateTimeFormatter.ofPattern("EEEE", Locale.US)
    .withZone(ZoneOffset.UTC)

  def formatDim(value: Any, d: AqlDimension): String = {
    if (value == null) return NullString
    if (d.isTimeDimension) {
      val v = value match {
        case l: Long => l
        case i: Int => i.toLong
        case f: java.lang.Number => f.longValue() // float time dims truncate
        case other => return other.toString
      }
      return formatTime(v, d)
    }
    value match {
      case f: Float => formatFloat(f.toDouble)
      case f: Double => formatFloat(f)
      case b: Boolean => if (b) "1" else "0"
      case other => other.toString
    }
  }

  private def formatFloat(d: Double): String = {
    // Go strconv.FormatFloat(_, 'g', -1): shortest representation
    if (d == d.floor && d.abs < 1e15 && !d.isInfinite) {
      val l = d.toLong
      if (l == d) return l.toString
    }
    d.toString
  }

  private def formatTime(v: Long, d: AqlDimension): String = {
    d.timeUnit.filter(_.nonEmpty) match {
      case Some(unit) =>
        val scaled = unit match {
          case "day" => v / 86400
          case "hour" => v / 3600
          case "minute" => v / 60
          case "millisecond" => v * 1000
          case _ => v
        }
        return scaled.toString
      case None =>
    }
    val minutesOfDay = """(\d+) minutes of day""".r
    d.timeBucketizer.getOrElse("") match {
      case "time of day" => FmtHm.format(Instant.ofEpochSecond(v))
      case "hour of day" => FmtHm.format(Instant.ofEpochSecond(v - v % 3600))
      case minutesOfDay(_) => FmtHm.format(Instant.ofEpochSecond(v))
      case "hour of week" => FmtWeekdayHm.format(Instant.ofEpochSecond(v + 4 * 86400))
      case "day of week" => FmtWeekday.format(Instant.ofEpochSecond(((v + 4) % 7) * 86400))
      case "day of month" | "day of year" | "month of year" | "quarter of year" =>
        v.toString
      case b =>
        Bucketizers.regularWidthSeconds(b) match {
          case Some(w) if w % 86400 == 0 => FmtDay.format(Instant.ofEpochSecond(v - v % 86400))
          case Some(w) if w % 3600 == 0 => FmtHour.format(Instant.ofEpochSecond(v - v % 3600))
          case Some(_) => FmtMinute.format(Instant.ofEpochSecond(v))
          // irregular buckets (month/quarter/year/week) fall through to the
          // numeric epoch, same as the reference's default branch
          case None => v.toString
        }
    }
  }
}
