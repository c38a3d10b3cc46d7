package servebench

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Answer checks: canonical JSON equality with a relative float tolerance. */
object Check {
  /** Relative tolerance for numbers: merged partial sums differ from one
    * instance's sum in the last bits (3.24668136E7 vs 3.2466813599999998E7).
    */
  val Tol = 1e-9

  def parse(s: String): JValue = JsonMethods.parse(s)

  /** The first result of an AQLResponse, or an error message. */
  def firstResult(body: String): Either[String, JValue] = {
    val j = try parse(body) catch { case scala.util.control.NonFatal(e) => return Left(s"bad JSON: ${body.take(200)}") }
    j \ "errors" match {
      case JArray(es) if es.exists(_ != JNull) => Left(es.collectFirst { case JString(m) => m }.getOrElse("error"))
      case _ => j \ "results" match {
        case JArray(r :: _) => Right(r)
        case _ => Left(s"no results: ${body.take(200)}")
      }
    }
  }

  def num(v: JValue): Option[Double] = v match {
    case JDouble(d) => Some(d)
    case JInt(i) => Some(i.toDouble)
    case JLong(l) => Some(l.toDouble)
    case JDecimal(d) => Some(d.toDouble)
    case JString(s) => s.toDoubleOption
    case _ => None
  }

  def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= Tol * math.max(math.abs(a), math.abs(b))

  /** Row order of a non-aggregate matrix is unspecified across members. */
  private def canonical(v: JValue): JValue = v match {
    case JObject(fs) => JObject(fs.map { case (k, x) =>
      k -> (if (k == "matrixData") x match {
        case JArray(rows) => JArray(rows.sortBy(r => JsonMethods.compact(JsonMethods.render(r))))
        case o => o
      } else canonical(x))
    }.sortBy(_._1))
    case JArray(xs) => JArray(xs.map(canonical))
    case o => o
  }

  /** None when equal, else the first difference found. */
  def diff(a: JValue, b: JValue): Option[String] = diffAt(canonical(a), canonical(b), "$")

  private def diffAt(a: JValue, b: JValue, path: String): Option[String] = (a, b) match {
    case (JObject(fa), JObject(fb)) =>
      val ka = fa.map(_._1); val kb = fb.map(_._1)
      if (ka != kb) Some(s"$path: keys differ (${ka.size} vs ${kb.size})")
      else fa.zip(fb).iterator.flatMap { case ((k, x), (_, y)) => diffAt(x, y, s"$path.$k") }.nextOption()
    case (JArray(xa), JArray(xb)) =>
      if (xa.length != xb.length) Some(s"$path: ${xa.length} vs ${xb.length} elements")
      else xa.zip(xb).zipWithIndex.iterator
        .flatMap { case ((x, y), i) => diffAt(x, y, s"$path[$i]") }.nextOption()
    case (JNull, JNull) => None
    case _ => (num(a), num(b)) match {
      case (Some(x), Some(y)) => if (close(x, y)) None else Some(s"$path: $x vs $y")
      case _ => if (a == b) None else Some(s"$path: ${JsonMethods.compact(JsonMethods.render(a))} vs " +
        JsonMethods.compact(JsonMethods.render(b)))
    }
  }
}
