package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.TextRank
import org.apache.spark.sql.functions._

/** Gate query for the round-9 n-gram uniqueness profile
  * ([[graft.operators.TextRank.ngramUniqueness]]).
  *
  * The float column follows the established protocol: exact integer
  * aggregates, a fixed handful of double ops, ROUND(,4) on both sides.
  */
object MatchQueries {

  val defs: Seq[QueryDef] = Seq(
    // --- n-gram uniqueness: the templated-text detector (low fraction =
    // every phrase borrowed from elsewhere in the corpus; contamination
    // scoring's inward-facing sibling). Trigrams, distinct per doc.
    QueryDef("q_ngram_uniqueness",
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id,
        |    CAST(('0x' || substring(md5(gram), 1, 15)) AS BIGINT) AS gram
        |  FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(tk)-1),
        |      i -> array_to_string(tk[i:i+2], ' '))) AS gram
        |    FROM toks WHERE len(tk) >= 3)),
        |dfq AS (SELECT gram, COUNT(*) AS df FROM grams GROUP BY 1),
        |per AS (
        |  SELECT g.doc_id, COUNT(*) AS n_grams,
        |         ROUND(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4)
        |           AS uniq_frac
        |  FROM grams g JOIN dfq USING (gram) GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams, uniq_frac
        |FROM documents d LEFT JOIN per USING (doc_id)
        |ORDER BY d.doc_id NULLS FIRST""".stripMargin) { (s, d) =>
      TextRank.ngramUniqueness(Tables.documents(s, d), "doc_id", "text", n = 3)
        .orderBy("doc_id")
    },
  )
}
