package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._

/** Gate queries for the round-9 corpus-modeling additions: graph and
  * keyword ranking and corpus text statistics.
  *
  * Oracle strategy: float scores follow the `q_text_bm25` protocol
  * (exact integer counts, `ln` terms, ROUND(,4) on both sides).
  */
object CorpusQueries {

  val defs: Seq[QueryDef] = Seq(
    // --- graph analytics: PageRank over the symmetric cosine-similarity
    // graph (canonical-document centrality). Exact edge set cross-engine
    // (the q_emb_near_dup bit-identical-cosine precedent); 3 power
    // iterations from uniform; rounded-rank order with id tiebreak.
    QueryDef("q_graph_pagerank",
      """WITH pool AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e
        |              FROM embeddings WHERE vec_id < 300),
        |pairs AS (SELECT a.id AS s, b.id AS d FROM pool a JOIN pool b
        |          ON a.id <> b.id
        |          WHERE list_cosine_similarity(a.e, b.e) >= 0.3),
        |nodes AS (SELECT DISTINCT s AS id FROM pairs),
        |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
        |deg AS (SELECT s, CAST(COUNT(*) AS DOUBLE) AS deg FROM pairs GROUP BY 1),
        |r0 AS (SELECT id, 1.0 / n AS r FROM nodes CROSS JOIN nn),
        |r1 AS (SELECT p.d AS id, 0.15 / any_value(nn.n) + 0.85 * SUM(r0.r / deg.deg) AS r
        |       FROM pairs p JOIN r0 ON p.s = r0.id JOIN deg ON p.s = deg.s
        |       CROSS JOIN nn GROUP BY p.d),
        |r2 AS (SELECT p.d AS id, 0.15 / any_value(nn.n) + 0.85 * SUM(r1.r / deg.deg) AS r
        |       FROM pairs p JOIN r1 ON p.s = r1.id JOIN deg ON p.s = deg.s
        |       CROSS JOIN nn GROUP BY p.d),
        |r3 AS (SELECT p.d AS id, 0.15 / any_value(nn.n) + 0.85 * SUM(r2.r / deg.deg) AS r
        |       FROM pairs p JOIN r2 ON p.s = r2.id JOIN deg ON p.s = deg.s
        |       CROSS JOIN nn GROUP BY p.d)
        |SELECT CAST(id AS BIGINT) AS node_id, ROUND(r, 4) AS rank
        |FROM r3 ORDER BY ROUND(r, 4) DESC, id LIMIT 20""".stripMargin) { (s, d) =>
      val pool = Tables.embeddings(s, d).where(col("vec_id") < 300)
      val edges = graft.operators.Similarity.exactPairsBlocked(
          pool, "vec_id", "embedding", 0.3)
        .select(col("a_id").as("s"), col("b_id").as("d"))
      val sym = edges.unionByName(
        edges.select(col("d").as("s"), col("s").as("d")))
      graft.operators.GraphRank.pageRank(sym, "s", "d", iters = 3)
        .select(col("id").as("node_id"), round(col("rank"), 4).as("rank"))
        .orderBy(col("rank").desc, col("node_id").asc)
        .limit(20)
    },

    // --- graph analytics: PageRank on a DIRECTED citation-style graph
    // with genuine sinks (nodes ≡ 0 mod 5 appear only as destinations —
    // no out-edges) and zero-in-degree sources. The oracle computes
    // TEXTBOOK PageRank: nodes = src ∪ dst, dangling mass redistributed
    // uniformly, teleport mass kept by every node via the left join.
    QueryDef("q_graph_pagerank_directed",
      """WITH e AS (
        |  SELECT doc_id AS s, (doc_id*7+3) % 200 AS d FROM documents
        |  WHERE doc_id < 200 AND doc_id % 5 <> 0
        |  UNION ALL
        |  SELECT doc_id, (doc_id*13+1) % 200 FROM documents
        |  WHERE doc_id < 200 AND doc_id % 5 <> 0 AND doc_id % 3 = 0),
        |nodes AS (SELECT DISTINCT id FROM
        |  (SELECT s AS id FROM e UNION ALL SELECT d FROM e)),
        |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
        |deg AS (SELECT s, CAST(COUNT(*) AS DOUBLE) AS deg FROM e GROUP BY 1),
        |r0 AS (SELECT id, 1.0/n AS r FROM nodes CROSS JOIN nn),
        |c1 AS (SELECT e.d AS id, SUM(r0.r/deg.deg) AS cin
        |       FROM e JOIN r0 ON e.s = r0.id JOIN deg ON e.s = deg.s GROUP BY 1),
        |d1 AS (SELECT COALESCE(SUM(r0.r), 0) AS dm FROM r0
        |       LEFT JOIN deg ON r0.id = deg.s WHERE deg.s IS NULL),
        |r1 AS (SELECT nodes.id, 0.15/nn.n + 0.85*(COALESCE(c1.cin, 0) + d1.dm/nn.n) AS r
        |       FROM nodes LEFT JOIN c1 USING (id) CROSS JOIN nn CROSS JOIN d1),
        |c2 AS (SELECT e.d AS id, SUM(r1.r/deg.deg) AS cin
        |       FROM e JOIN r1 ON e.s = r1.id JOIN deg ON e.s = deg.s GROUP BY 1),
        |d2 AS (SELECT COALESCE(SUM(r1.r), 0) AS dm FROM r1
        |       LEFT JOIN deg ON r1.id = deg.s WHERE deg.s IS NULL),
        |r2 AS (SELECT nodes.id, 0.15/nn.n + 0.85*(COALESCE(c2.cin, 0) + d2.dm/nn.n) AS r
        |       FROM nodes LEFT JOIN c2 USING (id) CROSS JOIN nn CROSS JOIN d2),
        |c3 AS (SELECT e.d AS id, SUM(r2.r/deg.deg) AS cin
        |       FROM e JOIN r2 ON e.s = r2.id JOIN deg ON e.s = deg.s GROUP BY 1),
        |d3 AS (SELECT COALESCE(SUM(r2.r), 0) AS dm FROM r2
        |       LEFT JOIN deg ON r2.id = deg.s WHERE deg.s IS NULL),
        |r3 AS (SELECT nodes.id, 0.15/nn.n + 0.85*(COALESCE(c3.cin, 0) + d3.dm/nn.n) AS r
        |       FROM nodes LEFT JOIN c3 USING (id) CROSS JOIN nn CROSS JOIN d3)
        |SELECT CAST(id AS BIGINT) AS node_id, ROUND(r, 4) AS rank
        |FROM r3 ORDER BY ROUND(r, 4) DESC, id LIMIT 25""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
        .where(col("doc_id") < 200 && col("doc_id") % 5 =!= 0)
      val e1 = docs.select(col("doc_id").as("s"),
        ((col("doc_id") * 7 + 3) % 200).as("d"))
      val e2 = docs.where(col("doc_id") % 3 === 0)
        .select(col("doc_id").as("s"), ((col("doc_id") * 13 + 1) % 200).as("d"))
      graft.operators.GraphRank.pageRank(e1.unionByName(e2), "s", "d", iters = 3)
        .select(col("id").as("node_id"), round(col("rank"), 4).as("rank"))
        .orderBy(col("rank").desc, col("node_id").asc)
        .limit(25)
    },

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

    // --- corpus statistics: token frequency-of-frequency spectrum (Zipf
    // audit). Bucket via binary-digit count so powers of two cannot land
    // in the wrong bucket through an FP log.
    QueryDef("q_text_zipf",
      """WITH freq AS (
        |  SELECT tok, COUNT(*) AS c FROM (
        |    SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        |    FROM documents)
        |  GROUP BY 1)
        |SELECT CAST(length(bin(c)) - 1 AS INT) AS bucket,
        |       COUNT(*) AS n_types, CAST(SUM(c) AS BIGINT) AS mass
        |FROM freq GROUP BY 1 ORDER BY bucket NULLS FIRST""".stripMargin) { (s, d) =>
      graft.operators.TextRank.freqSpectrum(Tables.documents(s, d), "text")
        .orderBy("bucket")
    },

    // --- TextRank keyword extraction: PageRank over the adjacent-token
    // co-occurrence graph (undirected, deduplicated — Mihalcea & Tarau
    // 2004, window 2). The oracle builds the identical edge set and
    // replays the 3 power iterations; the graph is symmetric so every
    // node has in- and out-edges and the engine runs the minimal plan.
    QueryDef("q_text_textrank",
      """WITH toks AS (SELECT string_split_regex(trim(text), '\s+') AS tk
        |              FROM documents),
        |adj AS (SELECT tk[i] AS a, tk[i+1] AS b
        |        FROM toks, UNNEST(range(1, len(tk))) AS t(i)
        |        WHERE len(tk) >= 2),
        |canon AS (SELECT DISTINCT LEAST(a, b) AS a, GREATEST(a, b) AS b
        |          FROM adj WHERE a <> b),
        |edges AS (SELECT a AS s, b AS d FROM canon
        |          UNION ALL SELECT b, a FROM canon),
        |nodes AS (SELECT DISTINCT s AS id FROM edges),
        |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
        |deg AS (SELECT s, CAST(COUNT(*) AS DOUBLE) AS deg FROM edges GROUP BY 1),
        |r0 AS (SELECT id, 1.0 / n AS r FROM nodes CROSS JOIN nn),
        |r1 AS (SELECT e.d AS id, 0.15 / any_value(nn.n) + 0.85 * SUM(r0.r / deg.deg) AS r
        |       FROM edges e JOIN r0 ON e.s = r0.id JOIN deg ON e.s = deg.s
        |       CROSS JOIN nn GROUP BY e.d),
        |r2 AS (SELECT e.d AS id, 0.15 / any_value(nn.n) + 0.85 * SUM(r1.r / deg.deg) AS r
        |       FROM edges e JOIN r1 ON e.s = r1.id JOIN deg ON e.s = deg.s
        |       CROSS JOIN nn GROUP BY e.d),
        |r3 AS (SELECT e.d AS id, 0.15 / any_value(nn.n) + 0.85 * SUM(r2.r / deg.deg) AS r
        |       FROM edges e JOIN r2 ON e.s = r2.id JOIN deg ON e.s = deg.s
        |       CROSS JOIN nn GROUP BY e.d)
        |SELECT id AS word, ROUND(r, 4) AS rank
        |FROM r3 ORDER BY ROUND(r, 4) DESC, id LIMIT 20""".stripMargin) { (s, d) =>
      graft.operators.TextRank.textRankKeywords(Tables.documents(s, d), "text",
        iters = 3, k = 20)
    },

    // --- weighted TextRank: edges carry co-occurrence counts and rank
    // flows proportionally to weight over total outgoing weight — the
    // paper's weighted formulation. Oracle replays the weighted degree
    // and all three iterations.
    QueryDef("q_text_textrank_weighted",
      """WITH toks AS (SELECT string_split_regex(trim(text), '\s+') AS tk
        |              FROM documents),
        |adj AS (SELECT tk[i] AS a, tk[i+1] AS b
        |        FROM toks, UNNEST(range(1, len(tk))) AS t(i)
        |        WHERE len(tk) >= 2),
        |canon AS (SELECT LEAST(a, b) AS a, GREATEST(a, b) AS b,
        |            CAST(COUNT(*) AS DOUBLE) AS w
        |          FROM adj WHERE a <> b GROUP BY 1, 2),
        |edges AS (SELECT a AS s, b AS d, w FROM canon
        |          UNION ALL SELECT b, a, w FROM canon),
        |nodes AS (SELECT DISTINCT s AS id FROM edges),
        |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
        |deg AS (SELECT s, SUM(w) AS deg FROM edges GROUP BY 1),
        |r0 AS (SELECT id, 1.0 / n AS r FROM nodes CROSS JOIN nn),
        |r1 AS (SELECT e.d AS id, 0.15 / any_value(nn.n) + 0.85 * SUM(r0.r * e.w / deg.deg) AS r
        |       FROM edges e JOIN r0 ON e.s = r0.id JOIN deg ON e.s = deg.s
        |       CROSS JOIN nn GROUP BY e.d),
        |r2 AS (SELECT e.d AS id, 0.15 / any_value(nn.n) + 0.85 * SUM(r1.r * e.w / deg.deg) AS r
        |       FROM edges e JOIN r1 ON e.s = r1.id JOIN deg ON e.s = deg.s
        |       CROSS JOIN nn GROUP BY e.d),
        |r3 AS (SELECT e.d AS id, 0.15 / any_value(nn.n) + 0.85 * SUM(r2.r * e.w / deg.deg) AS r
        |       FROM edges e JOIN r2 ON e.s = r2.id JOIN deg ON e.s = deg.s
        |       CROSS JOIN nn GROUP BY e.d)
        |SELECT id AS word, ROUND(r, 4) AS rank
        |FROM r3 ORDER BY ROUND(r, 4) DESC, id LIMIT 20""".stripMargin) { (s, d) =>
      graft.operators.TextRank.textRankKeywordsWeighted(Tables.documents(s, d),
        "text", iters = 3, k = 20)
    },

    // --- PMI bigram collocations (session 4): Church & Hanks' mutual-
    // information statistic for multi-word-unit discovery. The result
    // SET is fixed by integer pair counts (minCount, no top-k limit) so
    // the float score never decides membership; pmi itself is an exact
    // integer ratio under ln, ROUND(,4) on both sides (the q_text_bm25
    // float protocol). Oracle replays the same double parenthesization.
    QueryDef("q_text_collocations",
      """WITH toks AS (SELECT string_split_regex(trim(lower(text)), '\s+') AS tk
        |              FROM documents),
        |uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM (
        |          SELECT unnest(tk) AS tok FROM toks) GROUP BY 1),
        |tot AS (SELECT CAST(SUM(len(tk)) AS BIGINT) AS u,
        |          CAST(SUM(greatest(len(tk) - 1, 0)) AS BIGINT) AS b FROM toks),
        |big AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS pair_cnt FROM (
        |          SELECT array_to_string(tk[i:i+1], ' ') AS gram
        |          FROM toks, unnest(range(1, len(tk))) AS ui(i))
        |        GROUP BY 1 HAVING COUNT(*) >= 8)
        |SELECT gram, pair_cnt,
        |  ROUND(ln(CAST(pair_cnt AS DOUBLE) * u * u /
        |    (CAST(b AS DOUBLE) * ca.c * cb.c)), 4) + 0.0 AS pmi
        |FROM big CROSS JOIN tot
        |JOIN uni ca ON ca.tok = string_split(gram, ' ')[1]
        |JOIN uni cb ON cb.tok = string_split(gram, ' ')[2]
        |ORDER BY gram NULLS FIRST""".stripMargin) { (s, d) =>
      graft.operators.TextRank.collocations(Tables.documents(s, d), "text",
          minCount = 8)
        .orderBy("gram")
    },

    // --- per-document n-gram novelty (session 4): fraction of a doc's
    // distinct trigrams first seen (min doc_id) in that doc — planted
    // late exact copies must score 0.0, the Lee-et-al dedup-effect
    // measure. Counts are integers; the one division follows the
    // ROUND(,4) protocol.
    QueryDef("q_text_novelty",
      """WITH input AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 250
        |  UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id < 250),
        |tk AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
        |       FROM input),
        |g AS (SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS gram
        |      FROM tk, unnest(range(1, len(tk) - 1)) AS ui(i)),
        |f AS (SELECT gram, MIN(doc_id) AS first FROM g GROUP BY 1),
        |pd AS (SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |    ROUND(CAST(SUM(CASE WHEN f.first = g.doc_id THEN 1 ELSE 0 END)
        |      AS DOUBLE) / COUNT(*), 4) AS novel_frac
        |  FROM g JOIN f USING (gram) GROUP BY 1)
        |SELECT CAST(i.doc_id AS BIGINT) AS doc_id,
        |  COALESCE(n_grams, 0) AS n_grams, novel_frac
        |FROM input i LEFT JOIN pd USING (doc_id)
        |ORDER BY doc_id NULLS FIRST""".stripMargin) { (s, d) =>
      val base = Tables.documents(s, d).where(col("doc_id") < 250)
        .select("doc_id", "text")
      val input = base.unionByName(
        base.withColumn("doc_id", col("doc_id") + 100000))
      graft.operators.TextRank.novelty(input, "doc_id", "text", n = 3)
        .orderBy("doc_id")
    },

    // --- per-document character entropy (session 4): the gibberish /
    // binary-noise detector. Engine and oracle both compute
    // ln(n) − (Σ k·ln k)/n over per-char counts; the ≤ |alphabet|-term
    // sum makes the 4-decimal round robust to fold order.
    QueryDef("q_text_char_entropy",
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c
        |            FROM documents WHERE doc_id < 300),
        |cc AS (SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS k
        |       FROM ch WHERE c != '' GROUP BY 1, 2),
        |pd AS (SELECT doc_id, SUM(k) AS n,
        |         SUM(CAST(k AS DOUBLE) * ln(CAST(k AS DOUBLE))) AS klnk
        |       FROM cc GROUP BY 1)
        |SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
        |  CAST(COALESCE(n, 0) AS BIGINT) AS n_chars,
        |  ROUND(ln(CAST(n AS DOUBLE)) - klnk / n, 4) + 0.0 AS char_entropy
        |FROM (SELECT doc_id FROM documents WHERE doc_id < 300) d
        |LEFT JOIN pd USING (doc_id)
        |ORDER BY doc_id NULLS FIRST""".stripMargin) { (s, d) =>
      graft.operators.TextRank.charEntropy(
          Tables.documents(s, d).where(col("doc_id") < 300), "doc_id", "text")
        .orderBy("doc_id")
    },

    // --- per-source type-token ratio (session 4): vocabulary richness
    // per slice — integer counts, one rounded ratio.
    QueryDef("q_text_ttr",
      """WITH t AS (SELECT source,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        |  FROM documents),
        |cc AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS k
        |       FROM t GROUP BY 1, 2)
        |SELECT source AS "group", CAST(COUNT(*) AS BIGINT) AS types,
        |  CAST(SUM(k) AS BIGINT) AS tokens,
        |  ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(k), 4) AS ttr
        |FROM cc GROUP BY 1 ORDER BY "group" NULLS FIRST""".stripMargin) { (s, d) =>
      graft.operators.TextRank.lexicalDiversity(
          Tables.documents(s, d), "source", "text")
        .orderBy("group")
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
