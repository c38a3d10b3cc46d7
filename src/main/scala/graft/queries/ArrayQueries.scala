package graft.queries

import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.aql.{AqlCompiler, AqlJson, Catalog, ExprCompiler, ExprParser}

/** Array functions + compat-sensitive edge semantics (SURVEY §2.7 rows
  * 50-54): `length` / `contains` / `element_at` with the reference's
  * 0-based indexing, negative-from-end, null-on-out-of-range
  * (/root/reference/query/context/query_context_helper.go:589-721;
  * ArrayElementAtFunctor functor.hpp:519-573; golden e2e shapes in
  * integration/test-data/queries/array_query_*.aql), the enum sentinel
  * (unknown enum literal matches nothing, never errors, helper.go:301-310),
  * and hex(uuid) (helper.go:526-539).
  *
  * Every expression goes through the REAL front-end path: either a full
  * AQL compile or ExprCompiler over the parsed expression text. DuckDB
  * oracles mind the 1-based list_extract shift.
  */
object ArrayQueries {

  private def aql(json: String)(s: org.apache.spark.sql.SparkSession, d: String) =
    new AqlCompiler(Catalog.testdata(d), s).compile(AqlJson.parseQuery(json)).df

  /** Compile an AQL expression string against custom column bindings —
    * the ExprCompiler path used for array inputs derived from text.
    */
  private def expr(text: String, bind: Map[String, org.apache.spark.sql.Column]) =
    ExprCompiler.compile(ExprParser.parse(text),
      ExprCompiler.Ctx(name => bind.getOrElse(name, col(name))))

  val defs: Seq[QueryDef] = Seq(

    // length(arr) -> size
    QueryDef("q_array_length",
      """SELECT CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_toks,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM documents GROUP BY 1 ORDER BY n_toks NULLS FIRST""".stripMargin) { (s, d) =>
      val toks = split(trim(col("text")), "\\s+")
      Tables.documents(s, d)
        .groupBy(expr("length(toks)", Map("toks" -> toks)).as("n_toks"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("n_toks")
    },

    // contains(arr, v) -> array_contains
    QueryDef("q_array_contains",
      """SELECT list_contains(string_split_regex(trim(text), '\s+'), 'the') AS has_the,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM documents GROUP BY 1 ORDER BY has_the NULLS FIRST""".stripMargin) { (s, d) =>
      val toks = split(trim(col("text")), "\\s+")
      Tables.documents(s, d)
        .groupBy(expr("contains(toks, 'the')", Map("toks" -> toks)).as("has_the"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("has_the")
    },

    // element_at: 0-based (DuckDB list_extract is 1-based -> +1 shift on
    // the oracle side), negative index counts from the end
    QueryDef("q_array_element_at",
      """SELECT ROUND(CAST(list_extract(embedding, 1) AS DOUBLE), 4) AS first_v,
        |  ROUND(CAST(list_extract(embedding, -1) AS DOUBLE), 4) AS last_v,
        |  CAST(vec_id AS BIGINT) AS vec_id
        |FROM embeddings WHERE vec_id < 50
        |ORDER BY vec_id NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.embeddings(s, d).where(col("vec_id") < 50)
        .select(
          round(expr("element_at(embedding, 0)", Map.empty).cast("double"), 4).as("first_v"),
          round(expr("element_at(embedding, -1)", Map.empty).cast("double"), 4).as("last_v"),
          col("vec_id"))
        .orderBy("vec_id")
    },

    // out-of-range element_at is null, not an error (functor.hpp:519-573)
    QueryDef("q_array_element_oob",
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(list_extract(embedding, 1000)) AS BIGINT) AS n_nonnull
        |FROM embeddings""".stripMargin) { (s, d) =>
      Tables.embeddings(s, d)
        .agg(count(lit(1)).as("n_rows"),
          count(expr("element_at(embedding, 999)", Map.empty)).as("n_nonnull"))
    },

    // enum sentinel: filtering on an unknown enum case matches nothing and
    // does NOT error (helper.go:301-310) — full AQL path
    QueryDef("q_enum_sentinel",
      """SELECT CAST(COUNT(*) AS BIGINT) AS value FROM events
        |WHERE epoch(ts) >= 1704067200 AND epoch(ts) < 1706659200
        |  AND event_type = 'zz_never_a_case'""".stripMargin) { (s, d) =>
      aql("""{
        "table": "events",
        "measures": [{"alias": "value", "sqlExpression": "count(*)",
                      "rowFilters": ["event_type = 'zz_never_a_case'"]}],
        "timeFilter": {"from": "1704067200", "to": "1706659200"},
        "now": 1706659200
      }""")(s, d)
    },

    // unknown case inside IN drops out of the membership set silently
    QueryDef("q_enum_sentinel_in",
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS value FROM events
        |WHERE epoch(ts) >= 1704067200 AND epoch(ts) < 1706659200
        |  AND event_type IN ('click', 'zz_never_a_case')
        |GROUP BY 1 ORDER BY event_type NULLS FIRST""".stripMargin) { (s, d) =>
      aql("""{
        "table": "events",
        "measures": [{"alias": "value", "sqlExpression": "count(*)",
                      "rowFilters": ["event_type in ('click', 'zz_never_a_case')"]}],
        "dimensions": [{"alias": "event_type", "sqlExpression": "event_type"}],
        "timeFilter": {"from": "1704067200", "to": "1706659200"},
        "now": 1706659200
      }""")(s, d).orderBy("event_type")
    },

    // hex(uuid): lowercase dash-less hex of a canonical UUID string; the
    // fixture derives deterministic UUIDs from document ids
    QueryDef("q_hex_uuid",
      """SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 32) AS hexid,
        |  CAST(doc_id AS BIGINT) AS doc_id
        |FROM documents WHERE doc_id < 20 ORDER BY doc_id NULLS FIRST""".stripMargin) { (s, d) =>
      // canonical uuid-with-dashes built from the md5, then hex() strips it
      val canon = concat(
        substring(md5(col("doc_id").cast("string")), 1, 8), lit("-"),
        substring(md5(col("doc_id").cast("string")), 9, 4), lit("-"),
        substring(md5(col("doc_id").cast("string")), 13, 4), lit("-"),
        substring(md5(col("doc_id").cast("string")), 17, 4), lit("-"),
        substring(md5(col("doc_id").cast("string")), 21, 12))
      Tables.documents(s, d).where(col("doc_id") < 20)
        .select(expr("hex(u)", Map("u" -> canon)).as("hexid"), col("doc_id"))
        .orderBy("doc_id")
    }
  )
}
