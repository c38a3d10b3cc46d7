package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._

/** Gate queries for the round-9 corpus-modeling additions: greedy
  * k-center selection and a readability score.
  *
  * Oracle strategy: float outputs are computed from exact integer counts
  * or exact cosines and ROUND-ed on both sides.
  */
object CorpusQueries {

  val defs: Seq[QueryDef] = Seq(

    // --- selection: greedy k-center (farthest-point) diverse subset.
    // Sequential greedy replayed exactly by a recursive CTE with a
    // carried selected-set list (the q_pack_bins precedent); the radius
    // sequence is the 2-approximation coverage certificate.
    QueryDef("q_sample_kcenter",
      """WITH RECURSIVE pool AS (
        |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings WHERE vec_id < 100),
        |sel(step, ids, radius) AS (
        |  SELECT 1, [(SELECT MIN(id) FROM pool)], CAST(NULL AS DOUBLE)
        |  UNION ALL
        |  SELECT step + 1, list_append(ids, nxt.id), nxt.d
        |  FROM sel, LATERAL (
        |    SELECT v.id AS id, MIN(1 - list_cosine_similarity(v.e, s.e)) AS d
        |    FROM pool v JOIN pool s ON list_contains(sel.ids, s.id)
        |    WHERE NOT list_contains(sel.ids, v.id)
        |    GROUP BY v.id
        |    ORDER BY d DESC, v.id
        |    LIMIT 1) nxt
        |  WHERE step < 5)
        |SELECT CAST(step AS INT) AS pick_order, CAST(ids[step] AS BIGINT) AS id,
        |       ROUND(radius, 4) AS radius
        |FROM sel ORDER BY pick_order NULLS FIRST""".stripMargin) { (s, d) =>
      graft.operators.Similarity.kCenterSelect(
          Tables.embeddings(s, d).where(col("vec_id") < 100),
          "vec_id", "embedding", k = 5)
        .select(col("pick_order"), col("id"), round(col("radius"), 4).as("radius"))
        .orderBy("pick_order")
    },

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
