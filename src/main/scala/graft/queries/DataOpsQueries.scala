package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Gate queries for the round-8 data-pipeline additions: exact cosine
  * radius search, cluster-balanced sampling and hard-negative mining
  * ([[graft.operators.Similarity]]).
  *
  * Oracle strategy per gate: searches emit ids only, so DuckDB recomputes
  * the same double-precision cosine / argmin-L2 exactly (the
  * q_emb_near_dup precedent).
  */
object DataOpsQueries {

  val defs: Seq[QueryDef] = Seq(

    // --- similarity search: radius (range) query. Exact by construction —
    // queries broadcast, map-side cosine filter, ids-only output.
    QueryDef("q_ann_range",
      """SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
        |FROM embeddings q, embeddings c
        |WHERE q.vec_id < 5 AND c.vec_id != q.vec_id
        |  AND list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                             CAST(c.embedding AS DOUBLE[])) >= 0.3
        |ORDER BY query_id NULLS FIRST, neighbor_id NULLS FIRST""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.rangeSearch(emb, "vec_id", "embedding",
          emb.where(col("vec_id") < 5), 0.3)
        .select("query_id", "neighbor_id")
        .orderBy("query_id", "neighbor_id")
    },

    // --- cluster-balanced sampling: assign to the nearest of 8
    // deterministic centroids (the vectors of ids 0..7), keep ≤25 per
    // cluster by smallest id. DuckDB recomputes the argmin exactly
    // (sqrt-L2 is argmin-equivalent to the engine's squared L2; ties —
    // which only the centroid rows themselves could hit — break toward the
    // smaller cell in both engines).
    // --- embedding drift: per-label centroid cosine between two corpus
    // snapshots (first vs second half by vec_id) — the re-embed / corpus
    // update monitor. Composes groupCentroids with the double cosine;
    // same element-order fold in the oracle.
    QueryDef("q_emb_drift",
      """WITH e AS (SELECT label, vec_id >= 250 AS half, i,
        |             CAST(embedding[i] AS DOUBLE) AS v
        |           FROM embeddings, UNNEST(range(1, 65)) u(i)),
        |m AS (SELECT label, half, i, AVG(v) AS c FROM e GROUP BY 1, 2, 3),
        |cen AS (SELECT label, half, array_agg(c ORDER BY i) AS cen
        |        FROM m GROUP BY 1, 2),
        |p AS (SELECT a.label, a.cen AS ca, b.cen AS cb
        |      FROM cen a JOIN cen b ON a.label = b.label
        |      WHERE NOT a.half AND b.half)
        |SELECT label,
        |  ROUND(list_sum(list_transform(range(1, 65), i -> ca[i]*cb[i])) /
        |    (sqrt(list_sum(list_transform(range(1, 65), i -> ca[i]*ca[i]))) *
        |     sqrt(list_sum(list_transform(range(1, 65), i -> cb[i]*cb[i])))), 4)
        |    AS drift_cos
        |FROM p ORDER BY label""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      def cen(half: org.apache.spark.sql.Column) =
        Similarity.groupCentroids(emb.where(half), "label", "embedding")
      cen(col("vec_id") < 250)
        .select(col("group").as("label"), col("centroid").as("ca"))
        .join(cen(col("vec_id") >= 250)
          .select(col("group").as("label"), col("centroid").as("cb")), Seq("label"))
        .select(col("label"),
          round(graft.functions.VectorOps.cosineDouble(col("ca"), col("cb")), 4)
            .as("drift_cos"))
        .orderBy("label")
    },

    // --- JL random projection: the hash-sign matrix is a pure function
    // of (i, j) via the md5 hex prefix, so the oracle regenerates the
    // SAME matrix and folds each output dim in the same element order —
    // the projection values are pinned, not just their distance
    // statistics (those live in ProjectionSpec).
    QueryDef("q_emb_jl_project",
      """SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(j AS INT) AS dim,
        |  ROUND(list_sum(list_transform(range(1, 65),
        |    i -> CAST(embedding[i] AS DOUBLE) *
        |      (CASE WHEN CAST(('0x' || substring(md5((i-1) || ':' || j), 1, 15))
        |                    AS BIGINT) % 2 = 0
        |            THEN 1.0/sqrt(8) ELSE -(1.0/sqrt(8)) END))), 4) AS v
        |FROM embeddings, UNNEST(range(0, 8)) u(j)
        |WHERE vec_id < 50
        |ORDER BY vec_id, dim""".stripMargin) { (s, d) =>
      graft.operators.Projection.reduce(
          Tables.embeddings(s, d).where(col("vec_id") < 50),
          "embedding", inDim = 64, outDim = 8)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "pv")))
        .select(col("vec_id"), col("dim"), round(col("pv"), 4).as("v"))
        .orderBy("vec_id", "dim")
    },

    // --- PCA: the data-aware projection next to JL. The eigen basis is
    // not SQL-replayable, so the gate pins the INVARIANTS that define a
    // correct PCA (the flag-oracle pattern of q_percentile_approx):
    // fitted components orthonormal, eigenvalues descending and
    // non-negative, and top-k eigenvalue mass >= the best k COORDINATE
    // axes' variance mass (optimality over axis-aligned projections —
    // a wrong eigensolver fails this on real data immediately). The fit
    // itself is the real distributed one-pass Gram accumulation.
    QueryDef("q_emb_pca",
      """SELECT * FROM (VALUES (8, TRUE, TRUE, TRUE, TRUE))
        |AS t(k, orthonormal_ok, descending_ok, beats_axes_ok, proj_var_ok)""".stripMargin) { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      val m = graft.operators.Projection.fitPca(emb, "embedding", inDim = 64, k = 8)
      val orth = (0 until 8).forall { a =>
        (a until 8).forall { b =>
          val dot = (0 until 64).map(i => m.components(a)(i) * m.components(b)(i)).sum
          math.abs(dot - (if (a == b) 1.0 else 0.0)) < 1e-8
        }
      }
      val desc = m.eigenvalues.sliding(2).forall {
        case Array(x, y) => x >= y - 1e-12
        case _ => true
      } && m.eigenvalues.forall(_ >= -1e-9)
      val axisVars = emb
        .select(posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy("dim").agg(var_samp(col("v").cast("double")).as("s"))
        .collect().map(_.getDouble(1)).sorted.reverse.take(8).sum
      val beats = m.eigenvalues.sum >= axisVars - 1e-9
      // the PROJECTION path, driven distributively: the sample variance
      // of each projected coordinate IS the component's eigenvalue —
      // ties fit and transform together (a wrong mean offset, a wrong
      // matrix orientation, or a broken kernel all break the identity)
      val projVars = emb
        .select(graft.operators.Projection.pcaProject(col("embedding"), m)
          .as("p"))
        .select(posexplode(col("p")).as(Seq("dim", "v")))
        .groupBy("dim").agg(var_samp(col("v")).as("s"))
        .orderBy("dim")
        .collect().map(_.getDouble(1))
      val projOk = projVars.zip(m.eigenvalues).forall { case (v, e) =>
        math.abs(v - e) <= 1e-6 * math.max(1.0, math.abs(e))
      }
      Seq((8, orth, desc, beats, projOk))
        .toDF("k", "orthonormal_ok", "descending_ok", "beats_axes_ok",
          "proj_var_ok")
    },

    // --- label-centroid separability: per-label mean vectors (double,
    // one (group, dim)-keyed partial agg) scored pairwise with the
    // sequential-fold double cosine. Both engines fold sums in element
    // order, so ROUND(_, 4) compares a like-for-like double.
    QueryDef("q_emb_centroid_sep",
      """WITH e AS (SELECT label, i, CAST(embedding[i] AS DOUBLE) AS v
        |           FROM embeddings, UNNEST(range(1, 65)) u(i)),
        |m AS (SELECT label, i, AVG(v) AS c FROM e GROUP BY 1, 2),
        |cen AS (SELECT label, array_agg(c ORDER BY i) AS cen FROM m GROUP BY 1),
        |p AS (SELECT a.label AS label_a, b.label AS label_b,
        |        a.cen AS ca, b.cen AS cb
        |      FROM cen a JOIN cen b ON a.label < b.label)
        |SELECT label_a, label_b,
        |  ROUND(list_sum(list_transform(range(1, 65), i -> ca[i]*cb[i])) /
        |    (sqrt(list_sum(list_transform(range(1, 65), i -> ca[i]*ca[i]))) *
        |     sqrt(list_sum(list_transform(range(1, 65), i -> cb[i]*cb[i])))), 4)
        |    AS cos
        |FROM p ORDER BY label_a, label_b""".stripMargin) { (s, d) =>
      val cen = Similarity.groupCentroids(Tables.embeddings(s, d),
        "label", "embedding")
      val a = cen.select(col("group").as("label_a"), col("centroid").as("ca"))
      val b = cen.select(col("group").as("label_b"), col("centroid").as("cb"))
      a.join(b, col("label_a") < col("label_b"))
        .select(col("label_a"), col("label_b"),
          round(graft.functions.VectorOps.cosineDouble(col("ca"), col("cb")), 4)
            .as("cos"))
        .orderBy("label_a", "label_b")
    },

    // --- embedding outliers (r10): bottom-k cosine-to-own-centroid per
    // label — the mislabel/noise review queue. Rank on the ROUNDED score
    // with id tiebreak so the order is engine-independent; WindowGroupLimit
    // trims map-side below the group-key shuffle.
    QueryDef("q_emb_outliers",
      """WITH e AS (SELECT label, i, CAST(embedding[i] AS DOUBLE) AS v
        |           FROM embeddings, UNNEST(range(1, 65)) u(i)),
        |m AS (SELECT label, i, AVG(v) AS c FROM e GROUP BY 1, 2),
        |cen AS (SELECT label, array_agg(c ORDER BY i) AS cen FROM m GROUP BY 1),
        |s AS (SELECT emb.vec_id, emb.label,
        |  ROUND(list_sum(list_transform(range(1, 65),
        |          i -> CAST(embedding[i] AS DOUBLE) * cen[i])) /
        |    (sqrt(list_sum(list_transform(range(1, 65),
        |          i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(range(1, 65), i -> cen[i] * cen[i])))), 4)
        |    AS cos
        |  FROM embeddings emb JOIN cen ON emb.label = cen.label)
        |SELECT CAST(label AS INT) AS grp, CAST(rank AS INT) AS rank,
        |  CAST(vec_id AS BIGINT) AS vec_id, cos
        |FROM (SELECT *, row_number() OVER (PARTITION BY label
        |        ORDER BY cos, vec_id) AS rank FROM s)
        |WHERE rank <= 10
        |ORDER BY grp NULLS FIRST, rank NULLS FIRST""".stripMargin) { (s, d) =>
      Similarity.embeddingOutliers(Tables.embeddings(s, d),
          "vec_id", "label", "embedding", k = 10)
        .select(col("group").cast("int").as("grp"), col("rank"),
          col("vec_id"), col("cos"))
        .orderBy("grp", "rank")
    },

    QueryDef("q_cluster_balance",
      """WITH cents AS (SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cvec
        |               FROM embeddings WHERE vec_id < 8),
        |assigned AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT e.vec_id, c.cell, row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), c.cvec), c.cell) AS rn
        |    FROM embeddings e CROSS JOIN cents c) t WHERE rn = 1),
        |kept AS (SELECT vec_id, cell,
        |           row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rn
        |         FROM assigned)
        |SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(cell AS INT) AS cell
        |FROM kept WHERE rn <= 25
        |ORDER BY vec_id NULLS FIRST""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val centroids = emb.where(col("vec_id") < 8)
        .select(col("vec_id"), col("embedding")).orderBy("vec_id")
        .collect()
        .map(_.getSeq[Float](1).map(_.toDouble).toArray)
      Similarity.clusterBalance(emb, "vec_id", "embedding", centroids, cap = 25)
        .select(col("vec_id"), col("cell").cast("int").as("cell"))
        .orderBy("vec_id")
    },

    // --- hard-negative mining: each query's top-3 most-similar vectors
    // with a DIFFERENT label (the informative negatives for contrastive
    // training). Exact oracle mirrors q_ann_topk with the label predicate.
    QueryDef("q_hard_negatives",
      """SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                                      CAST(c.embedding AS DOUBLE[])) DESC,
        |               c.vec_id) AS rank
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 5 AND c.vec_id != q.vec_id AND c.label != q.label)
        |WHERE rank <= 3
        |ORDER BY query_id NULLS FIRST, rank NULLS FIRST""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.labelConstrainedTopK(emb, "vec_id", "embedding", "label",
          emb.where(col("vec_id") < 5), k = 3, excludeSameLabel = true)
        .select("query_id", "rank", "neighbor_id")
        .orderBy("query_id", "rank")
    },

    // --- margin-based pair mining (session 4, Artetxe & Schwenk 2019):
    // best cross-group partner per label-0 vector, cosine normalized by
    // both endpoints' k-NN neighborhood averages — the LASER bitext-
    // mining criterion. Selection ranks/thresholds on the ROUNDED margin
    // (the q_emb_outliers engine-independence rule); the oracle replays
    // forward top-k, candidate-only reverse top-k, and the max strategy.
    QueryDef("q_margin_mining",
      """WITH a AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings WHERE label = 0 AND vec_id < 10000),
        |b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |      FROM embeddings WHERE label = 1),
        |pairs AS (SELECT a.vec_id AS x, b.vec_id AS y,
        |    list_cosine_similarity(a.v, b.v) AS cos FROM a, b),
        |fwd AS (SELECT x, y, cos, row_number() OVER (
        |    PARTITION BY x ORDER BY cos DESC, y) AS rk FROM pairs),
        |topk AS (SELECT * FROM fwd WHERE rk <= 4),
        |da AS (SELECT x, AVG(cos) AS da FROM topk GROUP BY 1),
        |cand AS (SELECT DISTINCT y FROM topk),
        |rev AS (SELECT p.y, p.cos, row_number() OVER (
        |    PARTITION BY p.y ORDER BY p.cos DESC, p.x) AS rk
        |  FROM pairs p JOIN cand USING (y)),
        |db AS (SELECT y, AVG(cos) AS db FROM rev WHERE rk <= 4 GROUP BY 1),
        |m AS (SELECT t.x, t.y, t.cos,
        |    ROUND(t.cos / ((da.da + db.db) / 2), 4) AS margin
        |  FROM topk t JOIN da USING (x) JOIN db USING (y)),
        |best AS (SELECT x, y, cos, margin, row_number() OVER (
        |    PARTITION BY x ORDER BY margin DESC, y) AS rk FROM m)
        |SELECT CAST(x AS BIGINT) AS a_id, CAST(y AS BIGINT) AS b_id,
        |  ROUND(cos, 4) AS cos, margin
        |FROM best WHERE rk = 1 AND margin >= 1.02
        |ORDER BY a_id NULLS FIRST""".stripMargin) { (s, d) =>
      // the mining side A is BOUNDED by id (the operator's broadcast-side
      // contract): at scaled fixtures only replica-0 ids qualify, so the
      // gate stays A-bounded while B grows with the corpus
      val emb = Tables.embeddings(s, d)
        .where(col("label") =!= 0 || col("vec_id") < 10000)
      Similarity.marginMining(emb, "vec_id", "embedding",
          "label", lit(0), lit(1), k = 4, threshold = 1.02)
        .orderBy("a_id")
    },

    // --- MMR-diversified retrieval (Carbonell & Goldstein 1998): per-query
    // top-20 candidate pool → greedy pick of 5 maximizing
    // 0.7·rel − (1−0.7)·max-cos-to-picked; first pick is pure relevance.
    // Selection compares scores ROUNDED to 6 with the smaller-id tiebreak
    // (the q_emb_outliers engine-independence rule). The oracle unrolls
    // the 5 greedy steps as chained CTEs; (1 - 0.7) is spelled
    // identically in both engines so the IEEE value of the diversity
    // weight matches bit-for-bit.
    QueryDef("q_retrieval_mmr",
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings WHERE vec_id < 4),
        |c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS v
        |      FROM embeddings),
        |sc AS (SELECT q.qid, c.nid, list_cosine_similarity(q.v, c.v) AS rel
        |       FROM q JOIN c ON c.nid <> q.qid),
        |tn AS (SELECT qid, nid, rel FROM (
        |         SELECT *, row_number() OVER (
        |           PARTITION BY qid ORDER BY rel DESC, nid) AS rk FROM sc)
        |       WHERE rk <= 20),
        |pr AS (SELECT a.qid, a.nid AS x, b.nid AS y,
        |         list_cosine_similarity(ca.v, cb.v) AS sim
        |       FROM tn a JOIN tn b ON a.qid = b.qid AND a.nid <> b.nid
        |       JOIN c ca ON ca.nid = a.nid JOIN c cb ON cb.nid = b.nid),
        |s1 AS (SELECT qid, nid, ROUND(rel, 6) AS score FROM (
        |         SELECT qid, nid, rel, row_number() OVER (
        |           PARTITION BY qid ORDER BY ROUND(rel, 6) DESC, nid) AS rk
        |         FROM tn) WHERE rk = 1),
        |p1 AS (SELECT qid, nid, 1 AS sel_rank, score FROM s1),
        |m2 AS (SELECT t.qid, t.nid,
        |         ROUND(0.7 * t.rel - (1 - 0.7) * MAX(p.sim), 6) AS score
        |       FROM tn t JOIN pr p ON p.qid = t.qid AND p.x = t.nid
        |       JOIN p1 ON p1.qid = p.qid AND p1.nid = p.y
        |       WHERE NOT EXISTS (SELECT 1 FROM p1 z
        |                         WHERE z.qid = t.qid AND z.nid = t.nid)
        |       GROUP BY t.qid, t.nid, t.rel),
        |s2 AS (SELECT qid, nid, score FROM (
        |         SELECT *, row_number() OVER (
        |           PARTITION BY qid ORDER BY score DESC, nid) AS rk FROM m2)
        |       WHERE rk = 1),
        |p2 AS (SELECT * FROM p1 UNION ALL
        |       SELECT qid, nid, 2, score FROM s2),
        |m3 AS (SELECT t.qid, t.nid,
        |         ROUND(0.7 * t.rel - (1 - 0.7) * MAX(p.sim), 6) AS score
        |       FROM tn t JOIN pr p ON p.qid = t.qid AND p.x = t.nid
        |       JOIN p2 ON p2.qid = p.qid AND p2.nid = p.y
        |       WHERE NOT EXISTS (SELECT 1 FROM p2 z
        |                         WHERE z.qid = t.qid AND z.nid = t.nid)
        |       GROUP BY t.qid, t.nid, t.rel),
        |s3 AS (SELECT qid, nid, score FROM (
        |         SELECT *, row_number() OVER (
        |           PARTITION BY qid ORDER BY score DESC, nid) AS rk FROM m3)
        |       WHERE rk = 1),
        |p3 AS (SELECT * FROM p2 UNION ALL
        |       SELECT qid, nid, 3, score FROM s3),
        |m4 AS (SELECT t.qid, t.nid,
        |         ROUND(0.7 * t.rel - (1 - 0.7) * MAX(p.sim), 6) AS score
        |       FROM tn t JOIN pr p ON p.qid = t.qid AND p.x = t.nid
        |       JOIN p3 ON p3.qid = p.qid AND p3.nid = p.y
        |       WHERE NOT EXISTS (SELECT 1 FROM p3 z
        |                         WHERE z.qid = t.qid AND z.nid = t.nid)
        |       GROUP BY t.qid, t.nid, t.rel),
        |s4 AS (SELECT qid, nid, score FROM (
        |         SELECT *, row_number() OVER (
        |           PARTITION BY qid ORDER BY score DESC, nid) AS rk FROM m4)
        |       WHERE rk = 1),
        |p4 AS (SELECT * FROM p3 UNION ALL
        |       SELECT qid, nid, 4, score FROM s4),
        |m5 AS (SELECT t.qid, t.nid,
        |         ROUND(0.7 * t.rel - (1 - 0.7) * MAX(p.sim), 6) AS score
        |       FROM tn t JOIN pr p ON p.qid = t.qid AND p.x = t.nid
        |       JOIN p4 ON p4.qid = p.qid AND p4.nid = p.y
        |       WHERE NOT EXISTS (SELECT 1 FROM p4 z
        |                         WHERE z.qid = t.qid AND z.nid = t.nid)
        |       GROUP BY t.qid, t.nid, t.rel),
        |s5 AS (SELECT qid, nid, score FROM (
        |         SELECT *, row_number() OVER (
        |           PARTITION BY qid ORDER BY score DESC, nid) AS rk FROM m5)
        |       WHERE rk = 1),
        |p5 AS (SELECT * FROM p4 UNION ALL
        |       SELECT qid, nid, 5, score FROM s5)
        |SELECT qid AS query_id, CAST(sel_rank AS INT) AS sel_rank,
        |  nid AS neighbor_id, ROUND(score, 4) AS score
        |FROM p5 ORDER BY query_id NULLS FIRST, sel_rank NULLS FIRST""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.mmrSelect(emb, "vec_id", "embedding",
          emb.where(col("vec_id") < 4), n = 20, k = 5, lambda = 0.7)
        .select(col("query_id"), col("sel_rank"), col("neighbor_id"),
          round(col("score"), 4).as("score"))
        .orderBy("query_id", "sel_rank")
    },

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
