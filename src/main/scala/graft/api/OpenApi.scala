package graft.api

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Machine-readable API description for [[GraftServer]], served at
  * `GET /openapi.json` next to the `/ui` debug console — the counterpart of
  * the swagger spec the reference ships under its api/ui tree
  * (/root/reference/api/ui/swagger/index.html). Static by design: the
  * route surface is fixed at build time, so the document is one literal
  * OpenAPI 3.0 object; [[spec]] renders it once.
  *
  * The OpenApiSpec test asserts every context path the server actually
  * mounts ([[GraftServer.routes]]) is covered by a path here, so a new
  * endpoint without a description fails the suite by name.
  */
object OpenApi {

  private def op(summary: String, extra: (String, JValue)*): JObject =
    JObject(("summary" -> JString(summary)) :: extra.toList: _*)

  private def pathParams(names: String*): (String, JValue) =
    "parameters" -> JArray(names.toList.map(n => JObject(
      "name" -> JString(n), "in" -> JString("path"),
      "required" -> JBool(true),
      "schema" -> JObject("type" -> JString("string")))))

  private val paths: JObject = JObject(
    "/query/aql" -> JObject("post" -> op(
      "Run AQL queries (JSON request body, reference-compatible); " +
        "Accept: application/hll returns the binary HLL wire format")),
    "/query/sql" -> JObject("post" -> op(
      "Run a SQL query (text body, SQL subset with WITH/nesting)")),
    "/schema/tables" -> JObject(
      "get" -> op("List table names"),
      "post" -> op("Create a table (reference table-schema JSON)")),
    "/schema/tables/{table}" -> JObject(
      pathParams("table"),
      "get" -> op("Table schema"),
      "put" -> op("Update table config"),
      "delete" -> op("Delete table and all its layered state")),
    "/schema/tables/{table}/columns" -> JObject(
      pathParams("table"),
      "post" -> op("Add a column")),
    "/schema/tables/{table}/columns/{column}" -> JObject(
      pathParams("table", "column"),
      "put" -> op("Update column config"),
      "delete" -> op("Delete a column")),
    "/schema/tables/{table}/columns/{column}/enum-cases" -> JObject(
      pathParams("table", "column"),
      "get" -> op("List enum dictionary cases"),
      "post" -> op("Extend the enum dictionary; returns assigned ids")),
    "/data/{table}" -> JObject(
      pathParams("table"),
      "post" -> op("Upsert rows: JSON row array, or the reference's binary " +
        "upsert batch (Content-Type: application/upsert-data)")),
    "/data/{table}/{shard}" -> JObject(
      pathParams("table", "shard"),
      "post" -> op("Reference-compatible sharded upsert; the shard segment " +
        "is accepted and ignored (Spark partitioning replaces shards)")),
    "/metrics" -> JObject("get" -> op(
      "Operational metrics: query counts, per-query wall time, rows scanned")),
    "/health" -> JObject("get" -> op("Liveness probe (200 OK)")),
    "/version" -> JObject("get" -> op("Server version string")),
    "/ui" -> JObject("get" -> op("Debug console (single-page HTML)")),
    "/openapi.json" -> JObject("get" -> op("This document")),
    "/dbg/plan" -> JObject(
      "get" -> op("Formatted physical plan for ?query=<url-encoded AQL>",
        "parameters" -> JArray(List(JObject(
          "name" -> JString("query"), "in" -> JString("query"),
          "required" -> JBool(true),
          "schema" -> JObject("type" -> JString("string")))))),
      "post" -> op("Formatted physical plan for the AQL JSON body, unexecuted")),
    "/dbg/jobs" -> JObject("get" -> op(
      "Periodic-job scheduler details (per-table archive/backfill/" +
        "snapshot/purge run records)")),
    "/dbg/trigger/{table}/{job}" -> JObject(
      pathParams("table", "job"),
      "post" -> op("Manually kick one scheduler job INLINE (response " +
        "returns after it commits): job is archive|backfill|snapshot " +
        "(all drain the overlay) or purge (requires " +
        "?retain_from=yyyy-MM-dd) — the reference's debug triggers " +
        "(api/debug_handler.go:82-85)")),
    "/bootstrap/{table}/days" -> JObject(
      pathParams("table"),
      "get" -> op("Peer bootstrap: day list of this instance's served " +
        "archive for the table")),
    "/bootstrap/{table}/{day}/files" -> JObject(
      pathParams("table", "day"),
      "get" -> op("Peer bootstrap: file names of one day partition")),
    "/bootstrap/{table}/{day}/{file}" -> JObject(
      pathParams("table", "day", "file"),
      "get" -> op("Peer bootstrap: raw parquet bytes of one archive file " +
        "(application/octet-stream)")))

  /** The rendered OpenAPI 3.0 document. */
  val spec: String = JsonMethods.compact(JsonMethods.render(JObject(
    "openapi" -> JString("3.0.3"),
    "info" -> JObject(
      "title" -> JString("graft"),
      "description" -> JString(
        "Spark-native analytics engine: AQL/SQL query, schema mutation, " +
          "binary + JSON upsert ingestion, metrics and debug surfaces"),
      "version" -> JString("0.3")),
    "paths" -> paths)))

  /** True when `contextPath` (a mounted HttpServer context prefix like
    * `/data/`) is described by at least one documented path.
    */
  def covers(contextPath: String): Boolean = {
    val want = contextPath.stripSuffix("/")
    paths.obj.exists { case (p, _) => p == want || p.startsWith(want + "/") }
  }
}
