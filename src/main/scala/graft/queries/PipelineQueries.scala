package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.{Similarity, TextOps}
import org.apache.spark.sql.functions._

/** Gate queries for the training-data-pipeline operator suite: embedding
  * cosine near-dup pairs, similarity search (brute-force + LSH ANN), text
  * analysis (lang-id, quality, token counts, fingerprints).
  *
  * Hash-based operators (LSH/fingerprints) are engine-specific, so their
  * gates emit exact pinnable values (planted counts, corpus sizes) plus
  * recall/invariant flags the DuckDB oracle asserts; set algebra, counts,
  * md5 fingerprints and cosine rankings are directly SQL-expressible.
  * Every entry is oracle-checked.
  */
object PipelineQueries {

  val defs: Seq[QueryDef] = Seq(
    // --- dedup: embedding cosine pairs (double math → exact-enough oracle;
    // ids only, no float in the output)
    // BOUNDED-SUBSET CONTRACT: exact all-pairs is inherently O(n²)·d — the
    // gate runs it on a fixed-size id slice so its cost is scale-invariant
    // (the cap, not the sf, bounds the pair space). The scale path for
    // full-corpus near-dup is lshNearPairs (q_ann_lsh).
    QueryDef("q_emb_near_dup",
      """SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE a.vec_id < 4000 AND b.vec_id < 4000
        |  AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                             CAST(b.embedding AS DOUBLE[])) >= 0.42
        |ORDER BY a_id NULLS FIRST, b_id NULLS FIRST""".stripMargin) { (s, d) =>
      Similarity.exactPairsBlocked(
          Tables.embeddings(s, d).where(col("vec_id") < 4000),
          "vec_id", "embedding", 0.42)
        .select("a_id", "b_id")
        .orderBy("a_id", "b_id")
    },

    // --- similarity search: brute-force cosine top-k ------------------------
    QueryDef("q_ann_topk",
      """SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                                      CAST(c.embedding AS DOUBLE[])) DESC,
        |               c.vec_id) AS rank
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 5 AND c.vec_id != q.vec_id)
        |WHERE rank <= 3
        |ORDER BY query_id NULLS FIRST, rank NULLS FIRST""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.topKCosine(emb, "vec_id", "embedding",
        emb.where(col("vec_id") < 5), 3)
        .select("query_id", "rank", "neighbor_id")
        .orderBy("query_id", "rank")
    },

    // --- similarity search: LSH-bucketed ANN (scale path). Planted signal:
    // a lightly-perturbed copy of each vector (cos ≈ 0.999) that multi-table
    // LSH must recover at ≥90% recall; the oracle pins the corpus size and
    // asserts the recall flag.
    QueryDef("q_ann_lsh",
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors, TRUE AS recall_ok
        |FROM embeddings""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val perturbed = emb
        .withColumn("vec_id", col("vec_id") + 100000)
        .withColumn("embedding",
          transform(col("embedding"), (x, i) =>
            (x.cast("double") + sin(i.cast("double") * 0.7) * 0.03).cast("float")))
      Similarity.lshNearPairs(emb.unionByName(perturbed), "vec_id", "embedding",
          dim = 64, threshold = 0.9)
        .where(col("b_id") === col("a_id") + 100000)
        .agg(count(lit(1)).as("found"))
        .crossJoin(emb.agg(count(lit(1)).as("n_vectors")))
        .select(col("n_vectors"),
          (col("found") >= col("n_vectors") * 0.9).as("recall_ok"))
    },

    // --- similarity search: IVF ANN (the other scale path). Planted
    // signal: each query is a lightly-perturbed copy of a corpus vector
    // (cos ≈ 0.999 with its source), which shares the source's coarse cell
    // with overwhelming probability — IVF must surface the source in its
    // top-k while probing only nProbe/nlist of the corpus. The flag-based
    // oracle pins the query set and asserts every planted source is found
    // (the HLL-tolerance gate pattern).
    QueryDef("q_ann_ivf",
      """SELECT CAST(vec_id AS BIGINT) AS query_id, TRUE AS found_planted
        |FROM embeddings WHERE vec_id < 20
        |ORDER BY query_id NULLS FIRST""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      // id shift keeps the planted source visible (ivfTopK drops self-ids)
      val queries = emb.where(col("vec_id") < 20)
        .withColumn("vec_id", col("vec_id") + 100000)
        .withColumn("embedding",
          transform(col("embedding"), (x, i) =>
            (x.cast("double") + sin(i.cast("double") * 1.3) * 0.01).cast("float")))
      val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", queries, 5,
          nlist = 32, nProbe = 4)
      ivf.groupBy("query_id")
        .agg(max(col("neighbor_id") === col("query_id") - 100000).as("found_planted"))
        .select((col("query_id") - 100000).as("query_id"), col("found_planted"))
        .orderBy("query_id")
    },

    // --- similarity search: JL-reduce → IVF candidates → exact rerank
    // (the wide-embedding composition: index small projected vectors,
    // score survivors on the originals). Same planted contract as
    // q_ann_ivf; the rerank makes rank-1 exact for planted twins.
    QueryDef("q_ann_jl_rerank",
      """SELECT CAST(vec_id AS BIGINT) AS query_id, TRUE AS found_planted
        |FROM embeddings WHERE vec_id < 20
        |ORDER BY query_id NULLS FIRST""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val queries = emb.where(col("vec_id") < 20)
        .withColumn("vec_id", col("vec_id") + 100000)
        .withColumn("embedding",
          transform(col("embedding"), (x, i) =>
            (x.cast("double") + sin(i.cast("double") * 1.3) * 0.01).cast("float")))
      Similarity.jlRerankTopK(emb, "vec_id", "embedding", queries, k = 5,
          inDim = 64, outDim = 16, candK = 20, nlist = 32, nProbe = 8)
        .groupBy("query_id")
        .agg(max(col("neighbor_id") === col("query_id") - 100000).as("found_planted"))
        .select((col("query_id") - 100000).as("query_id"), col("found_planted"))
        .orderBy("query_id")
    },

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
