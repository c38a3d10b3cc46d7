package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.TextOps
import org.apache.spark.sql.functions._

/** Gate queries for the text-analysis operator suite: heavy hitters,
  * lang-id, quality, token counts and fingerprints.
  *
  * Hash-based operators (fingerprints) are engine-specific, so their
  * gates emit exact pinnable values (planted counts, corpus sizes) plus
  * invariant flags the DuckDB oracle asserts; counts and md5 fingerprints
  * are directly SQL-expressible. Every entry is oracle-checked.
  */
object PipelineQueries {

  val defs: Seq[QueryDef] = Seq(
    // --- corpus statistics: Misra–Gries heavy hitters (mergeable top-k
    // frequency summary, the cardinality-HLL's frequency sibling). A
    // planted token at ~n/4 occurrences dwarfs the MG error bound
    // n/(capacity+1), so the summary MUST rank it first at any sf; the
    // oracle pins the planted count exactly and asserts both flags.
    QueryDef("q_freq_items",
      """SELECT 'zzheavy' AS top1_item,
        |  CAST(SUM(len(string_split_regex(trim(text), '\s+')) // 4) AS BIGINT) AS planted,
        |  TRUE AS est_within_bound
        |FROM documents""".stripMargin) { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(TextOps.tokens(col("text")).as("t"))
        .select(explode(concat(col("t"),
          array_repeat(lit("zzheavy"), (size(col("t")) / 4).cast("int")))).as("tok"))
      val agg = toks.agg(
        graft.functions.FreqItems.freqItems(col("tok"), 16).as("fi"),
        count(lit(1)).as("n"),
        sum(when(col("tok") === "zzheavy", 1L).otherwise(0L)).as("planted"))
      val top1 = element_at(col("fi"), 1)
      agg.select(top1.getField("item").as("top1_item"), col("planted"),
        (top1.getField("est") <= col("planted") &&
          top1.getField("est") >= col("planted") - col("n") * 2 / 17)
          .as("est_within_bound"))
    },

    // --- text analysis: token counting (whitespace + BPE-ish subword) ------
    QueryDef("q_text_token_count",
      """SELECT lang,
        |  CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS ws_tokens,
        |  CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS bpeish_tokens
        |FROM documents GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .groupBy("lang")
        .agg(sum(size(TextOps.tokens(col("text")))).cast("long").as("ws_tokens"),
          sum(size(TextOps.bpeishTokens(col("text")))).cast("long").as("bpeish_tokens"))
        .orderBy("lang")
    },

    // --- text analysis -------------------------------------------------------
    QueryDef("q_text_stats",
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS docs,
        |  CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
        |  CAST(SUM(CASE WHEN len(string_split_regex(trim(text), '\s+')) >= 20
        |                 AND n_chars >= 100
        |                 AND n_chars <= len(string_split_regex(trim(text), '\s+')) * 10
        |            THEN 1 ELSE 0 END) AS BIGINT) AS quality_docs
        |FROM documents GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin) { (s, d) =>
      val toks = TextOps.tokens(col("text"))
      Tables.documents(s, d)
        .groupBy("lang")
        .agg(count(lit(1)).as("docs"),
          sum(size(toks)).cast("long").as("total_tokens"),
          sum(TextOps.qualityFlag(toks, col("n_chars"))).cast("long").as("quality_docs"))
        .orderBy("lang")
    },

    QueryDef("q_text_langid",
      """WITH scored AS (
        |  SELECT len(list_filter(string_split_regex(trim(text), '\s+'),
        |           t -> t IN ('the','a','of','and','to','in','is'))) AS en_s,
        |         len(list_filter(string_split_regex(trim(text), '\s+'),
        |           t -> t IN ('der','die','das','und','ist','ein'))) AS de_s,
        |         len(list_filter(string_split_regex(trim(text), '\s+'),
        |           t -> t IN ('el','la','de','y','es','un'))) AS es_s,
        |         len(list_filter(string_split_regex(trim(text), '\s+'),
        |           t -> t IN ('le','la','et','les','est','un'))) AS fr_s
        |  FROM documents)
        |SELECT CASE
        |  WHEN en_s > 0 AND en_s > de_s AND en_s > es_s AND en_s > fr_s THEN 'en'
        |  WHEN de_s > 0 AND de_s > en_s AND de_s > es_s AND de_s > fr_s THEN 'de'
        |  WHEN es_s > 0 AND es_s > en_s AND es_s > de_s AND es_s > fr_s THEN 'es'
        |  WHEN fr_s > 0 AND fr_s > en_s AND fr_s > de_s AND fr_s > es_s THEN 'fr'
        |  ELSE 'und' END AS predicted_lang,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM scored GROUP BY 1 ORDER BY predicted_lang NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .groupBy(TextOps.predictLang(TextOps.tokens(col("text"))).as("predicted_lang"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("predicted_lang")
    },

    QueryDef("q_text_fingerprint",
      """SELECT lang, CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_fp,
        |  MIN(md5(text)) AS min_fp
        |FROM documents GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .groupBy("lang")
        .agg(count_distinct(TextOps.fingerprintMd5(col("text"))).as("n_fp"),
          min(TextOps.fingerprintMd5(col("text"))).as("min_fp"))
        .orderBy("lang")
    },

    // rolling fingerprints are engine-specific 64-bit values, but their
    // CONTRACT is checkable: deterministic (equal texts hash equal) and
    // collision-free on this corpus — distinct fingerprints == distinct
    // texts per language; the oracle pins the distinct-text counts
    QueryDef("q_text_rolling_fingerprint",
      """SELECT lang, CAST(COUNT(DISTINCT text) AS BIGINT) AS n_distinct_texts,
        |  TRUE AS fp_bijective
        |FROM documents GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("lang"), col("text"),
          TextOps.fingerprintRolling(TextOps.tokens(col("text"))).as("fp"))
        .groupBy("lang")
        .agg(count_distinct(col("text")).as("n_distinct_texts"),
          (count_distinct(col("fp")) === count_distinct(col("text"))).as("fp_bijective"))
        .orderBy("lang")
    },

  )
}
