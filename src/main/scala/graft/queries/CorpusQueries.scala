package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._

/** Gate query for a readability score. Its float output is computed
  * from exact integer counts and ROUND-ed on both sides.
  */
object CorpusQueries {

  val defs: Seq[QueryDef] = Seq(
    // --- Flesch reading ease (session 4): the classic readability
    // heuristic from deterministic regex counts (vowel groups ≈
    // syllables, [.!?]+ runs ≈ sentence ends floored at 1) — every
    // ingredient is an integer, both engines share the same
    // parenthesization, ROUND(,2).
    QueryDef("q_text_flesch",
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS words,
        |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
        |      AS BIGINT) AS sentences,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |      AS BIGINT) AS syllables
        |  FROM documents WHERE doc_id < 400)
        |SELECT doc_id, words, sentences, syllables,
        |  CASE WHEN words > 0 THEN
        |    ROUND(206.835 - 1.015 * CAST(words AS DOUBLE) / sentences
        |      - 84.6 * CAST(syllables AS DOUBLE) / words, 2) END AS flesch
        |FROM c ORDER BY doc_id NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.documents(s, d).where(col("doc_id") < 400)
        .select(col("doc_id"), graft.operators.TextOps.fleschScore(col("text")).as("f"))
        .select(col("doc_id"), col("f.words").as("words"),
          col("f.sentences").as("sentences"),
          col("f.syllables").as("syllables"), col("f.flesch").as("flesch"))
        .orderBy("doc_id")
    })
}
