package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.{Dedup, TextRank}
import org.apache.spark.sql.functions._

/** Gate queries for the round-9 matching/profiling additions: corpus-wide
  * paragraph dedup ([[graft.operators.Dedup.paragraphDedup]]) and the
  * n-gram uniqueness profile
  * ([[graft.operators.TextRank.ngramUniqueness]]).
  *
  * Oracle strategy: paragraph dedup injects shared HEAD/TAIL paragraphs
  * around each single-line document and pins the rebuilt text by md5.
  * The float gates follow the established protocol: exact integer
  * aggregates, a fixed handful of double ops, ROUND(,4) on both sides.
  */
object MatchQueries {

  private val Sep = "\n\n"
  private val SqlSep = "chr(10) || chr(10)"

  val defs: Seq[QueryDef] = Seq(
    // --- per-source duplication / cross-contamination profile: only
    // (source, hash) pairs shuffle; the mixing-rate audit primitive.
    QueryDef("q_source_overlap",
      """WITH h AS (SELECT source, md5(text) AS hh FROM documents),
        |psh AS (SELECT source, hh, COUNT(*) AS c FROM h GROUP BY 1, 2),
        |spread AS (SELECT hh, COUNT(*) AS nsrc FROM psh GROUP BY 1)
        |SELECT source, CAST(SUM(c) AS BIGINT) AS n_docs,
        |       CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |       CAST(SUM(CASE WHEN nsrc >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_cross
        |FROM psh JOIN spread USING (hh)
        |GROUP BY source
        |ORDER BY source NULLS FIRST""".stripMargin) { (s, d) =>
      Dedup.sourceProfile(Tables.documents(s, d), "text", "source")
        .orderBy("source")
    },

    // --- paragraph dedup: HEAD paragraphs repeat every 40 docs, TAIL
    // every 9, bodies are organic; keep-first semantics pin exactly which
    // docs lose 0/1/2 paragraphs, and md5 pins the rebuilt text byte-wise.
    QueryDef("q_paragraph_dedup",
      s"""WITH injected AS (
        |  SELECT doc_id, 'HEAD ' || (doc_id % 40) || $SqlSep || text ||
        |         $SqlSep || 'TAIL ' || (doc_id % 9) AS t
        |  FROM documents),
        |paras AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ps)+1),
        |    i -> {'pos': i, 'para': ps[i]})) AS s
        |  FROM (SELECT doc_id, string_split(t, $SqlSep) AS ps FROM injected)),
        |flat AS (SELECT doc_id, s.pos AS pos, s.para AS para FROM paras),
        |kept AS (
        |  SELECT doc_id, pos, para,
        |         row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
        |  FROM flat),
        |rebuilt AS (
        |  SELECT doc_id, COUNT(*) AS n_kept,
        |         string_agg(para, $SqlSep ORDER BY pos) AS t2
        |  FROM kept WHERE rn = 1 GROUP BY doc_id),
        |orig AS (SELECT doc_id, len(string_split(t, $SqlSep)) AS n_paras
        |         FROM injected)
        |SELECT o.doc_id, CAST(n_paras - coalesce(n_kept, 0) AS BIGINT) AS n_removed,
        |       md5(coalesce(t2, '')) AS text_fp
        |FROM orig o LEFT JOIN rebuilt r ON o.doc_id = r.doc_id
        |ORDER BY o.doc_id NULLS FIRST""".stripMargin) { (s, d) =>
      val injected = Tables.documents(s, d).select(col("doc_id"),
        concat(lit("HEAD "), (col("doc_id") % 40).cast("string"), lit(Sep),
          col("text"),
          lit(Sep), lit("TAIL "), (col("doc_id") % 9).cast("string")).as("text"))
      Dedup.paragraphDedup(injected, "doc_id", "text", Sep)
        .select(col("doc_id"), col("n_removed"), md5(col("text")).as("text_fp"))
        .orderBy("doc_id")
    },

    // --- WITHIN-doc repeated-paragraph removal (the CCNet per-document
    // pass): planted fixture wraps each doc as A|text|text|A, so exactly
    // the second text copy and the trailing A are removed per doc — and,
    // unlike q_paragraph_dedup, identical paragraphs in OTHER docs must
    // NOT interfere. Shuffle-free on the engine side (one array fold);
    // rebuilt text pinned by md5.
    QueryDef("q_dedup_within_doc",
      s"""WITH injected AS (
        |  SELECT doc_id, 'A ' || (doc_id % 7) || $SqlSep || text ||
        |         $SqlSep || text || $SqlSep || 'A ' || (doc_id % 7) AS t
        |  FROM documents),
        |flat AS (
        |  SELECT doc_id, i AS pos, ps[i] AS para
        |  FROM (SELECT doc_id, string_split(t, $SqlSep) AS ps FROM injected),
        |       UNNEST(range(1, len(ps) + 1)) AS u(i)),
        |kept AS (
        |  SELECT doc_id, pos, para,
        |         row_number() OVER (PARTITION BY doc_id, para ORDER BY pos) AS rn
        |  FROM flat),
        |rebuilt AS (
        |  SELECT doc_id, COUNT(*) AS n_kept,
        |         string_agg(para, $SqlSep ORDER BY pos) AS t2
        |  FROM kept WHERE rn = 1 GROUP BY doc_id),
        |orig AS (SELECT doc_id, len(string_split(t, $SqlSep)) AS n FROM injected)
        |SELECT o.doc_id, CAST(o.n - r.n_kept AS BIGINT) AS n_removed,
        |       md5(r.t2) AS text_fp
        |FROM orig o JOIN rebuilt r ON o.doc_id = r.doc_id
        |ORDER BY o.doc_id NULLS FIRST""".stripMargin) { (s, d) =>
      val injected = Tables.documents(s, d).select(col("doc_id"),
        concat(lit("A "), (col("doc_id") % 7).cast("string"), lit(Sep),
          col("text"), lit(Sep), col("text"),
          lit(Sep), lit("A "), (col("doc_id") % 7).cast("string")).as("text"))
      // input sorted, not the output: a global orderBy over the fold's
      // no-exchange output re-executes the whole per-doc dedup for range
      // sampling (the q_quality_classifier lesson, BENCH_NOTES r11); the
      // fold is a projection, so input order survives
      Dedup.dedupWithinDoc(injected.orderBy("doc_id"), "doc_id", "text", Sep)
        .select(col("doc_id"), col("n_removed"), md5(col("text")).as("text_fp"))
    },

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
