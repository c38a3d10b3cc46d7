package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.{Dedup, Similarity, TextOps, TextRank}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Gate queries for the training-data-pipeline operator suite: dedup
  * (exact, MinHash-LSH, SimHash, word-set Jaccard, embedding cosine),
  * similarity search (brute-force + LSH ANN), text analysis (lang-id,
  * quality, token counts, fingerprints).
  *
  * Hash-based operators (minhash/simhash/LSH/fingerprints) are
  * engine-specific, so their gates emit exact pinnable values (planted
  * counts, corpus sizes) plus recall/invariant flags the DuckDB oracle
  * asserts; set algebra, counts, md5 fingerprints and cosine rankings are
  * directly SQL-expressible. Every entry is oracle-checked.
  */
object PipelineQueries {

  /** documents ∪ a mutated copy (ids shifted by 100000): the mutated texts
    * are near- but not exact duplicates, giving the near-dup operators a
    * known planted signal.
    */
  private def doubledDocs(s: SparkSession, d: String, mutate: Boolean): DataFrame = {
    val docs = Tables.documents(s, d)
    val copy0 = docs.withColumn("doc_id", col("doc_id") + 100000)
    val copy = if (mutate) copy0.withColumn("text", concat(col("text"), lit(" zz yy xx"))) else copy0
    docs.unionByName(copy)
  }

  val defs: Seq[QueryDef] = Seq(
    // --- dedup: exact ------------------------------------------------------
    // dedup key includes lang: the same text can occur under two languages
    // (it does at sf0.1), and a text-only dedup would keep an arbitrary
    // lang while the per-lang distinct count sees both
    QueryDef("q_dedup_exact",
      """SELECT lang, CAST(COUNT(DISTINCT text) AS BIGINT) AS cnt
        |FROM documents GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin) { (s, d) =>
      Dedup.exact(doubledDocs(s, d, mutate = false), Seq("lang", "text"))
        .groupBy("lang").agg(count(lit(1)).as("cnt"))
        .orderBy("lang")
    },

    QueryDef("q_dedup_exact_keepmin",
      """SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(mid) AS BIGINT) AS id_sum
        |FROM (SELECT MIN(doc_id) AS mid FROM documents GROUP BY text)""".stripMargin) { (s, d) =>
      Dedup.exactKeepMin(doubledDocs(s, d, mutate = false), "text", "doc_id")
        .agg(count(lit(1)).as("n"), sum("doc_id").as("id_sum"))
    },

    // --- dedup: MinHash LSH. The hash values are engine-specific, but the
    // RECALL CONTRACT is checkable: every planted near-dup pair (mutated
    // copy at id+100000) must be found. The oracle pins the planted-pair
    // count exactly and asserts the flag (the HLL-tolerance gate pattern).
    QueryDef("q_dedup_minhash",
      """SELECT CAST((SELECT COUNT(*) FROM documents
        |  WHERE len(string_split_regex(trim(text), '\s+')) >= 3) AS BIGINT) AS planted,
        |  TRUE AS all_planted_found
        |""".stripMargin) { (s, d) =>
      // docs shorter than 3 tokens have no shingles, hence no signature;
      // the planted count is a second aggregate branch of the SAME job
      // (crossJoin of two 1-row aggregates), not a separate counting job
      val planted = Tables.documents(s, d)
        .where(size(TextOps.tokens(col("text"))) >= 3)
        .agg(count(lit(1)).as("planted"))
      Dedup.minhashNearDups(doubledDocs(s, d, mutate = true), "doc_id", "text", 0.35)
        .where(col("b_id") === col("a_id") + 100000)
        .agg(count(lit(1)).as("found"))
        .crossJoin(planted)
        .select(col("planted"),
          (col("found") === col("planted")).as("all_planted_found"))
    },

    // --- dedup: duplicated spans (exact substring-dedup signal, Lee et
    // al. ACL 2022 — repeated >= L-token windows are the trimming
    // target). Duplication depends only on span CONTENT equality, so the
    // oracle recomputes multiplicities over the span STRINGS while the
    // engine counts by 64-bit span hash — identical answers (collisions
    // at corpus scale ~2^-30). Planted signal: the exact copies make
    // every window of every long-enough doc duplicated.
    QueryDef("q_dedup_spans",
      """WITH input AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 200
        |  UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id < 200),
        |tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts FROM input),
        |sp AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ts) - 18),
        |    i -> array_to_string(ts[i:i+19], ' '))) AS s
        |  FROM tk WHERE len(ts) >= 20),
        |occ AS (SELECT s FROM sp GROUP BY s HAVING COUNT(*) >= 2)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dup_spans
        |FROM sp JOIN occ USING (s) WHERE doc_id < 100000
        |GROUP BY 1 ORDER BY doc_id NULLS FIRST""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).where(col("doc_id") < 200)
        .select("doc_id", "text")
      val input = docs.unionByName(
        docs.withColumn("doc_id", col("doc_id") + 100000))
      Dedup.duplicateSpans(input, "doc_id", "text", spanTokens = 20)
        .where(col("doc_id") < 100000)
        .groupBy("doc_id").agg(count(lit(1)).as("dup_spans"))
        .orderBy("doc_id")
    },

    // --- dedup: span TRIMMING (the actionable half of q_dedup_spans —
    // keep one canonical occurrence per repeated window, cut the rest,
    // rebuild the text). The oracle reproduces the whole pipeline in SQL
    // — window extraction, canonical pick by (doc_id, start), token-index
    // removal, string_agg rebuild — and the gate compares the REBUILT
    // TEXT by md5, so the trim semantics are pinned byte-exactly.
    QueryDef("q_dedup_span_trim",
      """WITH input AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 120
        |  UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id < 120),
        |tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts FROM input),
        |sp AS (
        |  SELECT doc_id, i - 1 AS start, array_to_string(ts[i:i+19], ' ') AS s
        |  FROM tk, unnest(range(1, len(ts) - 18)) AS u(i)
        |  WHERE len(ts) >= 20),
        |occ AS (SELECT s FROM sp GROUP BY s HAVING COUNT(*) >= 2),
        |flagged AS (
        |  SELECT sp.doc_id, sp.start, sp.s,
        |    row_number() OVER (PARTITION BY sp.s ORDER BY sp.doc_id, sp.start) AS rn
        |  FROM sp JOIN occ USING (s)),
        |removed AS (
        |  SELECT DISTINCT doc_id, CAST(unnest(range(start, start + 20)) AS BIGINT) AS ti
        |  FROM flagged WHERE rn > 1),
        |toks AS (
        |  SELECT tk.doc_id, i - 1 AS ti, ts[i] AS tok
        |  FROM tk, unnest(range(1, len(ts) + 1)) AS u(i)),
        |kept AS (
        |  SELECT t.doc_id, t.ti, t.tok FROM toks t
        |  LEFT JOIN removed r ON r.doc_id = t.doc_id AND r.ti = t.ti
        |  WHERE r.ti IS NULL),
        |rebuilt AS (
        |  SELECT i.doc_id,
        |    CASE WHEN i.doc_id IN (SELECT doc_id FROM removed)
        |      THEN COALESCE((SELECT string_agg(k.tok, ' ' ORDER BY k.ti)
        |                     FROM kept k WHERE k.doc_id = i.doc_id), '')
        |      ELSE i.text END AS txt
        |  FROM input i)
        |SELECT doc_id,
        |  CAST(CASE WHEN txt = '' THEN 0
        |       ELSE len(string_split_regex(trim(txt), '\s+')) END AS BIGINT) AS n_tokens,
        |  md5(txt) AS fp
        |FROM rebuilt ORDER BY doc_id NULLS FIRST""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).where(col("doc_id") < 120)
        .select("doc_id", "text")
      val input = docs.unionByName(
        docs.withColumn("doc_id", col("doc_id") + 100000))
      Dedup.trimDuplicateSpans(input, "doc_id", "text", spanTokens = 20)
        .select(col("doc_id"),
          when(col("text") === "", 0L)
            .otherwise(size(graft.operators.TextOps.tokens(col("text"))).cast("long"))
            .as("n_tokens"),
          md5(col("text")).as("fp"))
        .orderBy("doc_id")
    },

    // --- dedup: SimHash. Banding recall contract: the banded join must
    // find EXACTLY the planted pairs within the Hamming radius (ground
    // truth computed in-query via direct id join — no LSH involved).
    QueryDef("q_dedup_simhash",
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, TRUE AS banding_exact
        |FROM documents""".stripMargin) { (s, d) =>
      val planted = doubledDocs(s, d, mutate = true)
      val sh = Dedup.simhash(planted, "doc_id", "text")
      // ground truth is another aggregate branch of the SAME job
      val truth = sh.select(col("doc_id").as("a_id"), col("simhash").as("a_sh"))
        .join(sh.select((col("doc_id") - 100000).as("a_id"), col("simhash").as("b_sh")), "a_id")
        .where(bit_count(col("a_sh").bitwiseXOR(col("b_sh"))) <= 6)
        .agg(count(lit(1)).as("truth"))
      Dedup.simhashNearDups(planted, "doc_id", "text", 6)
        .where(col("b_id") === col("a_id") + 100000)
        .agg(count(lit(1)).as("found"))
        .crossJoin(truth)
        .crossJoin(Tables.documents(s, d).agg(count(lit(1)).as("n_docs")))
        .select(col("n_docs"), (col("found") === col("truth")).as("banding_exact"))
    },

    // --- dedup: exact word-set Jaccard (integer outputs → exact oracle) ----
    // doc-frequency cap (maxDf=20) mirrored in the oracle's `rare` CTE: hot
    // tokens are dropped from both intersection and set sizes before the
    // token self-join, bounding per-token fan-out at maxDf² at any scale.
    QueryDef("q_jaccard_pairs",
      """WITH alltoks AS (
        |  SELECT doc_id AS id, unnest(list_distinct(string_split_regex(trim(text), '\s+'))) AS tok
        |  FROM documents WHERE doc_id < 25),
        |rare AS (SELECT tok FROM alltoks GROUP BY tok HAVING COUNT(*) <= 20),
        |toks AS (SELECT id, t.tok FROM alltoks t JOIN rare USING (tok)),
        |sizes AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY id),
        |inter AS (
        |  SELECT a.id AS a_id, b.id AS b_id, CAST(COUNT(*) AS BIGINT) AS inter_cnt
        |  FROM toks a JOIN toks b ON a.tok = b.tok AND a.id < b.id
        |  GROUP BY 1, 2)
        |SELECT a_id, b_id, inter_cnt, sa.n + sb.n - inter_cnt AS union_cnt
        |FROM inter
        |JOIN sizes sa ON sa.id = a_id
        |JOIN sizes sb ON sb.id = b_id
        |WHERE 5 * inter_cnt >= sa.n + sb.n
        |ORDER BY a_id NULLS FIRST, b_id NULLS FIRST""".stripMargin) { (s, d) =>
      Dedup.wordSetPairs(Tables.documents(s, d).where(col("doc_id") < 25),
          "doc_id", "text", maxDf = 20)
        .where(col("inter_cnt") * 5 >= col("union_cnt") + col("inter_cnt"))
        .orderBy("a_id", "b_id")
    },

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

    // --- text retrieval: BM25 top-k per query. Query vocabulary is
    // broadcast to prune term-frequency rows before any shuffle; scores
    // round to 4 decimals on both sides so cross-engine float compare is
    // exact (RSJ idf, k1=1.2, b=0.75).
    QueryDef("q_text_bm25",
      """WITH q(query_id, qtext) AS (VALUES (0, 'hash join batch'), (1, 'vector scan')),
        |qt AS (SELECT query_id, unnest(list_distinct(string_split_regex(trim(lower(qtext)), '\s+'))) AS tok FROM q),
        |dt AS (SELECT doc_id, len(string_split_regex(trim(lower(text)), '\s+')) AS len,
        |              unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        |       FROM documents),
        |tf AS (SELECT doc_id, len, tok, CAST(COUNT(*) AS DOUBLE) AS tf FROM dt
        |       WHERE tok IN (SELECT tok FROM qt) GROUP BY 1, 2, 3),
        |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
        |                 AVG(len(string_split_regex(trim(lower(text)), '\s+'))) AS avg_len
        |          FROM documents),
        |dfreq AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS nt FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT qt.query_id, tf.doc_id,
        |    ROUND(SUM(ln(1 + (n_docs - nt + 0.5) / (nt + 0.5)) *
        |      tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * tf.len / avg_len))), 4) AS score
        |  FROM tf JOIN dfreq USING (tok) CROSS JOIN stats JOIN qt USING (tok)
        |  GROUP BY 1, 2)
        |SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS INT) AS rank,
        |       CAST(doc_id AS BIGINT) AS doc_id, score
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY score DESC, doc_id) AS rank FROM scored)
        |WHERE rank <= 5
        |ORDER BY query_id NULLS FIRST, rank NULLS FIRST""".stripMargin) { (s, d) =>
      TextRank.bm25TopK(Tables.documents(s, d), "doc_id", "text",
          Seq((0L, "hash join batch"), (1L, "vector scan")), k = 5)
        .orderBy("query_id", "rank")
    },

    // --- corpus statistics: top-k word bigrams above a frequency cutoff.
    // orderBy.limit executes as TakeOrderedAndProject (per-partition heaps,
    // no global sort).
    QueryDef("q_text_ngrams",
      """SELECT ngram, CAST(cnt AS BIGINT) AS cnt FROM (
        |  SELECT ngram, COUNT(*) AS cnt FROM (
        |    SELECT unnest(list_transform(range(1, len(toks)),
        |             i -> array_to_string(toks[i:i+1], ' '))) AS ngram
        |    FROM (SELECT string_split_regex(trim(lower(text)), '\s+') AS toks
        |          FROM documents))
        |  GROUP BY 1 HAVING COUNT(*) >= 20)
        |ORDER BY cnt DESC, ngram NULLS FIRST LIMIT 20""".stripMargin) { (s, d) =>
      TextRank.topNgrams(Tables.documents(s, d), "text", n = 2, k = 20,
        minCount = 20)
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

    // --- winnowing fingerprints (r10, Schleimer/Wilkerson/Aiken MOSS):
    // k=3 shingle hashes, window w=4, rightmost-min selection — any shared
    // token run >= w+k-1 guarantees a shared fingerprint. One map-side
    // fold per doc; the oracle replays hash, window min and the rightmost
    // tie rule exactly.
    QueryDef("q_text_winnow",
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
        |              FROM documents WHERE doc_id < 20),
        |g AS (SELECT doc_id, list_transform(range(1, len(tk) - 1),
        |        i -> array_to_string(tk[i:i+2], ' ')) AS grams
        |      FROM toks WHERE len(tk) >= 3),
        |h AS (SELECT doc_id, list_transform(grams,
        |        g2 -> CAST(('0x' || substring(md5(g2), 1, 15)) AS BIGINT)) AS hs
        |      FROM g),
        |winpos AS (SELECT doc_id, hs, unnest(range(1, len(hs) - 2)) AS j
        |           FROM h WHERE len(hs) >= 4),
        |sel AS (SELECT doc_id,
        |    (j - 1) + (4 - list_position(list_reverse(hs[j:j+3]),
        |                                 list_min(hs[j:j+3]))) AS pos,
        |    list_min(hs[j:j+3]) AS fp
        |  FROM winpos)
        |SELECT DISTINCT doc_id, CAST(pos AS INT) AS pos, CAST(fp AS BIGINT) AS fp
        |FROM sel ORDER BY doc_id NULLS FIRST, pos NULLS FIRST""".stripMargin) { (s, d) =>
      graft.operators.Dedup.winnowFingerprints(
          Tables.documents(s, d).where(col("doc_id") < 20),
          "doc_id", "text", k = 3, w = 4)
        .orderBy("doc_id", "pos")
    },

    // --- winnowing clone pairs (r10): cross-document pairs sharing >= 3
    // fingerprint selections (MOSS's actual query) over planted mutated
    // copies; stopword-tier fingerprints (> 64 docs) dropped whole — the
    // minhash bucket-cap rule, replayed by the oracle's window count.
    QueryDef("q_winnow_pairs",
      """WITH input AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 150
        |  UNION ALL SELECT doc_id + 100000, text || ' zz yy xx'
        |  FROM documents WHERE doc_id < 150),
        |toks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
        |         FROM input),
        |g AS (SELECT doc_id, list_transform(range(1, len(tk) - 1),
        |        i -> array_to_string(tk[i:i+2], ' ')) AS grams
        |      FROM toks WHERE len(tk) >= 3),
        |h AS (SELECT doc_id, list_transform(grams,
        |        g2 -> CAST(('0x' || substring(md5(g2), 1, 15)) AS BIGINT)) AS hs
        |      FROM g),
        |winpos AS (SELECT doc_id, hs, unnest(range(1, len(hs) - 2)) AS j
        |           FROM h WHERE len(hs) >= 4),
        |sel AS (SELECT DISTINCT doc_id, list_min(hs[j:j+3]) AS fp FROM winpos),
        |capped AS (SELECT doc_id, fp FROM (
        |    SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS n FROM sel)
        |  WHERE n <= 64),
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS shared
        |      FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2)
        |SELECT CAST(a_id AS BIGINT) AS a_id, CAST(b_id AS BIGINT) AS b_id,
        |  CAST(shared AS BIGINT) AS shared
        |FROM p WHERE shared >= 3
        |ORDER BY a_id NULLS FIRST, b_id NULLS FIRST""".stripMargin) { (s, d) =>
      val base = Tables.documents(s, d).where(col("doc_id") < 150)
      val input = base.select("doc_id", "text").unionByName(
        base.select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" zz yy xx")).as("text")))
      graft.operators.Dedup.winnowClonePairs(input, "doc_id", "text",
          k = 3, w = 4, minShared = 3, maxDocsPerFp = 64)
        .orderBy("a_id", "b_id")
    },

    // --- containment-scored near-dup pairs (session 4): asymmetric
    // |A∩B|/|A| over distinct 3-shingle sets — catches the planted
    // 25-token FRAGMENTS (doc_id+100000, a prefix quote of each long
    // doc) whose containment in their source is 1.0 while Jaccard stays
    // tiny. Engine keys shingles by hash60, oracle by content (the
    // q_dedup_spans hash-vs-string adjudication); candidate join is an
    // inverted index with the 64-doc stopword cap, so the verdict is
    // exact, not probabilistic.
    QueryDef("q_dedup_containment",
      """WITH input AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 150
        |  UNION ALL
        |  SELECT doc_id + 100000,
        |    array_to_string((string_split_regex(trim(text), '\s+'))[1:25], ' ')
        |  FROM documents WHERE doc_id < 150),
        |tk AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
        |       FROM input),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS g
        |       FROM tk, unnest(range(1, len(tk) - 1)) AS ui(i)),
        |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY 1),
        |capped AS (SELECT doc_id, g FROM (
        |    SELECT doc_id, g, COUNT(*) OVER (PARTITION BY g) AS n FROM sh)
        |  WHERE n <= 64),
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |        CAST(COUNT(*) AS BIGINT) AS shared
        |      FROM capped a JOIN capped b ON a.g = b.g AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2)
        |SELECT CAST(a_id AS BIGINT) AS a_id, CAST(b_id AS BIGINT) AS b_id,
        |  shared, ROUND(shared / sa.sz, 4) AS c_ab, ROUND(shared / sb.sz, 4) AS c_ba
        |FROM p JOIN sz sa ON sa.doc_id = p.a_id JOIN sz sb ON sb.doc_id = p.b_id
        |WHERE greatest(shared / sa.sz, shared / sb.sz) >= 0.8
        |ORDER BY a_id NULLS FIRST, b_id NULLS FIRST""".stripMargin) { (s, d) =>
      val base = Tables.documents(s, d).where(col("doc_id") < 150)
        .select("doc_id", "text")
      val input = base.unionByName(
        base.select((col("doc_id") + 100000).as("doc_id"),
          array_join(slice(TextOps.tokens(trim(col("text"))), 1, 25), " ")
            .as("text")))
      graft.operators.Dedup.containmentPairs(input, "doc_id", "text",
          k = 3, threshold = 0.8, maxDocsPerShingle = 64)
        .orderBy("a_id", "b_id")
    },

    // --- incremental dedup: the last 50 documents play a "daily delta"
    // against the rest of the corpus, plus planted exact copies (+100000,
    // must die in the exact stage) and mutated copies (+200000, must die
    // in the near-dup stage). The oracle recomputes both stages exactly —
    // text anti-join, then exact 3-shingle jaccard between batch survivors
    // and the corpus at the 0.35 threshold. Sound on this corpus for the
    // same reason as q_pipeline_e2e's oracle (the jaccard gap), which
    // q_pipeline_oracle_guard checks cross-engine every round.
    // --- bloom pre-filtered incremental dedup: the corpus key set rides
    // a constant-size Bloom filter instead of an exact broadcast (the
    // both-sides-huge shape). Output is EXACTLY the anti-join — false
    // positives are verified away — so the oracle needs no bloom replay.
    QueryDef("q_dedup_bloom_incremental",
      """WITH cutv AS (SELECT MAX(doc_id) - 49 AS cut FROM documents),
        |corpus AS (SELECT doc_id, text FROM documents
        |           WHERE doc_id < (SELECT cut FROM cutv)),
        |batch AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id >= (SELECT cut FROM cutv)
        |  UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id < 10)
        |SELECT CAST(b.doc_id AS BIGINT) AS doc_id FROM batch b
        |WHERE b.text NOT IN (SELECT text FROM corpus)
        |ORDER BY doc_id NULLS FIRST""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val cut = docs.agg(max("doc_id")).head().getLong(0) - 49
      val corpus = docs.where(col("doc_id") < cut)
      val batch = docs.where(col("doc_id") >= cut).unionByName(
        docs.where(col("doc_id") < 10)
          .select((col("doc_id") + 100000).as("doc_id"), col("text")))
      Dedup.bloomDedupAgainst(batch, corpus, Seq("text"), mBits = 1 << 17)
        .select("doc_id").orderBy("doc_id")
    },

    QueryDef("q_dedup_incremental",
      """WITH cutv AS (SELECT MAX(doc_id) - 49 AS cut FROM documents),
        |corpus AS (SELECT doc_id, text FROM documents WHERE doc_id < (SELECT cut FROM cutv)),
        |batch AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id >= (SELECT cut FROM cutv)
        |  UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id < 10
        |  UNION ALL SELECT doc_id + 200000, text || ' zz yy xx' FROM documents WHERE doc_id < 20),
        |ex AS (SELECT b.doc_id, b.text FROM batch b
        |       WHERE b.text NOT IN (SELECT text FROM corpus)),
        |shb AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ts)-1),
        |          i -> array_to_string(ts[i:i+2], ' ')))) AS g
        |        FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts FROM ex)
        |        WHERE len(ts) >= 3),
        |shc AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ts)-1),
        |          i -> array_to_string(ts[i:i+2], ' ')))) AS g
        |        FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts FROM corpus)
        |        WHERE len(ts) >= 3),
        |szb AS (SELECT doc_id, COUNT(*) AS n FROM shb GROUP BY doc_id),
        |szc AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id),
        |e0 AS (SELECT b.doc_id AS bid, c.doc_id AS cid, COUNT(*) AS i
        |       FROM shb b JOIN shc c ON b.g = c.g GROUP BY 1, 2),
        |hits AS (SELECT DISTINCT bid FROM e0
        |         JOIN szb ON szb.doc_id = e0.bid JOIN szc ON szc.doc_id = e0.cid
        |         WHERE 100 * e0.i >= 35 * (szb.n + szc.n - e0.i))
        |SELECT CAST(doc_id AS BIGINT) AS doc_id FROM ex
        |WHERE doc_id NOT IN (SELECT bid FROM hits)
        |ORDER BY doc_id NULLS FIRST""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val cut = docs.agg(max("doc_id")).head.getLong(0) - 49L
      val corpus = docs.where(col("doc_id") < cut)
      val batch = docs.where(col("doc_id") >= cut)
        .unionByName(docs.where(col("doc_id") < 10)
          .withColumn("doc_id", col("doc_id") + 100000))
        .unionByName(docs.where(col("doc_id") < 20)
          .withColumn("doc_id", col("doc_id") + 200000)
          .withColumn("text", concat(col("text"), lit(" zz yy xx"))))
      Dedup.incrementalDedup(batch, corpus, "doc_id", "text", threshold = 0.35)
        .select(col("doc_id").cast("long").as("doc_id"))
        .orderBy("doc_id")
    },

    // --- quality-aware canonical selection: every original near-dups its
    // longer mutated copy, so "keep best by length" must pick the MUTATED
    // side of each cluster (where keep-min would pick the original) and
    // merge organic near-dup clusters on the way. Oracle recomputes the
    // exact-jaccard closure (same fragment as q_pipeline_e2e, same guard)
    // and the per-cluster arg-max.
    QueryDef("q_dedup_keep_best",
      """WITH RECURSIVE input AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 200000, text || ' zz yy xx' FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ts)-1),
        |        i -> array_to_string(ts[i:i+2], ' ')))) AS g
        |       FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts FROM input)
        |       WHERE len(ts) >= 3),
        |szs AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |e0 AS (SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS i
        |       FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |edges AS (SELECT a, b FROM e0
        |          JOIN szs sa ON sa.doc_id = e0.a JOIN szs sb ON sb.doc_id = e0.b
        |          WHERE 100 * e0.i >= 35 * (sa.n + sb.n - e0.i)),
        |bidir AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
        |reach(a, b) AS (SELECT a, b FROM bidir
        |  UNION SELECT r.a, e.b FROM reach r JOIN bidir e ON r.b = e.a),
        |grp AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS grp FROM reach GROUP BY a),
        |m AS (SELECT i.doc_id, length(i.text) AS score, COALESCE(g.grp, i.doc_id) AS grp
        |      FROM input i LEFT JOIN grp g USING (doc_id)),
        |r AS (SELECT doc_id, grp, row_number() OVER (PARTITION BY grp ORDER BY score DESC, doc_id) AS rn FROM m)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id FROM r WHERE rn = 1
        |ORDER BY doc_id NULLS FIRST""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val input = docs.unionByName(
        docs.withColumn("doc_id", col("doc_id") + 200000)
          .withColumn("text", concat(col("text"), lit(" zz yy xx"))))
      Dedup.keepBestNearDups(input, "doc_id", "text",
          length(col("text")), threshold = 0.35)
        .select(col("doc_id").cast("long").as("doc_id"))
        .orderBy("doc_id")
    },

    // --- pipeline-oracle soundness guard. q_pipeline_e2e's exact oracle
    // (recursive-CTE closure over exact-jaccard edges) equals the engine
    // ONLY while minhash estimation agrees with exact 3-shingle jaccard
    // about which pairs cross the 0.35 threshold — a property of the
    // FIXTURE's pairwise distribution (the sf0.01 corpus keeps clear of
    // the boundary: nothing in (0.103, 0.666)). This gate checks that
    // precondition DIRECTLY: the engine's est_jaccard >= 0.35 pair set
    // must EQUAL the exact-jaccard pair set (integer inequality, same
    // definition as the oracle's edges CTE) — edge-set equality is
    // strictly stronger than the component equality the pipeline oracle
    // needs, so a regenerated fixture that lands a pair on the wrong
    // side of an estimate fails THIS gate loudly by name instead of
    // silently flaking q_pipeline_e2e.
    // The engine side blocks with the audit's 32-band×2-row pass, NOT the
    // production 16×4 banding: the production blocking has a real recall
    // gap at the flag boundary (two sf0.1 pairs agreeing on 40/64
    // positions miss all 16 four-row bands — (1018,201083) J=11/15 and
    // (4599,203436) J=9/13; those misses are absorbed by component
    // transitivity in every pipeline gate, so e2e stays exact), and a
    // banding-recall flake here would misreport the est/exact property
    // this guard exists to pin. The oracle recomputes the exact-jaccard
    // pair set in DuckDB, so the driver's row-hash compare IS the
    // edge-set equality check and the bench never pays for an all-pairs
    // exact join.
    QueryDef("q_pipeline_oracle_guard",
      """WITH input AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 200000, text || ' zz yy xx' FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ts)-1),
        |    i -> array_to_string(ts[i:i+2], ' ')))) AS g
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts FROM input)
        |  WHERE len(ts) >= 3),
        |szs AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |e0 AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS i
        |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT CAST(a AS BIGINT) AS a_id, CAST(b AS BIGINT) AS b_id
        |FROM e0
        |JOIN szs sa ON sa.doc_id = e0.a JOIN szs sb ON sb.doc_id = e0.b
        |WHERE 100 * e0.i >= 35 * (sa.n + sb.n - e0.i)
        |ORDER BY a_id NULLS FIRST, b_id NULLS FIRST""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val input = docs.unionByName(
        docs.withColumn("doc_id", col("doc_id") + 200000)
          .withColumn("text", concat(col("text"), lit(" zz yy xx"))))
      Dedup.minhashNearDups(input, "doc_id", "text", 0.35, rowsPerBand = 2)
        .select("a_id", "b_id")
        .orderBy("a_id", "b_id")
    },

    // --- minhash precision audit: flagged pairs re-scored with exact
    // 2-shingle jaccard, histogrammed by integer decile. The oracle
    // computes the exact >= 0.35 pair set (the banding == exact equality
    // that q_pipeline_oracle_guard pins loudly every round) and replays
    // the same integer bucket arithmetic.
    QueryDef("q_dedup_minhash_audit",
      """WITH input AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 200000, text || ' zz yy xx' FROM documents),
        |shg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ts)-1),
        |    i -> array_to_string(ts[i:i+2], ' '))) AS g
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts FROM input)
        |  WHERE len(ts) >= 3),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) AS h
        |  FROM shg),
        |szs AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |e0 AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS i
        |  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |flagged AS (
        |  SELECT e0.i, sa.n AS na, sb.n AS nb
        |  FROM e0 JOIN szs sa ON sa.doc_id = e0.a JOIN szs sb ON sb.doc_id = e0.b
        |  WHERE 100 * e0.i >= 35 * (sa.n + sb.n - e0.i))
        |SELECT CAST((10 * i) // (na + nb - i) AS INT) AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_pairs
        |FROM flagged GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val input = docs.unionByName(
        docs.withColumn("doc_id", col("doc_id") + 200000)
          .withColumn("text", concat(col("text"), lit(" zz yy xx"))))
      Dedup.minhashPrecisionAudit(input, "doc_id", "text", 0.35)
        .orderBy("bucket")
    }
  )
}
