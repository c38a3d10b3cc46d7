package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._

/** Gate query for exact dedup on a normalized text key
  * ([[graft.operators.TextOps.normalizeText]]).
  */
object DataOpsQueries {

  val defs: Seq[QueryDef] = Seq(
    // --- normalized-key dedup: exact dedup on a canonical form — the
    // planted copies differ only by case and punctuation, and collapse
    // onto their originals under the canonical form. Pure character-class
    // regex chain, identical in Java regex and RE2.
    QueryDef("q_norm_dedup",
      """WITH input AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, upper(text) || ' !!' FROM documents),
        |n AS (SELECT doc_id,
        |      trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')) AS norm
        |      FROM input)
        |SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_members
        |FROM n GROUP BY norm ORDER BY doc_id NULLS FIRST""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val input = docs.unionByName(
        docs.withColumn("doc_id", col("doc_id") + 100000)
          .withColumn("text", concat(upper(col("text")), lit(" !!"))))
      // group on the 16-byte CONTENT KEY of the normalized text, not the
      // text itself: the dedup exchange moves md5 keys instead of a
      // normalized copy of the corpus — at 100 TB that is the difference
      // between a key shuffle and re-shuffling every byte of text
      input.select(
          md5(graft.operators.TextOps.normalizeText(col("text")).cast("binary"))
            .as("__key"),
          col("doc_id"))
        .groupBy("__key")
        .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_members"))
        .select("doc_id", "n_members")
        .orderBy("doc_id")
    },
  )
}
