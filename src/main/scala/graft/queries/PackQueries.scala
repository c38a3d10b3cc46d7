package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.{Similarity, TextOps}
import org.apache.spark.sql.functions._

/** Gate queries for the round-6 training-data operators: connected
  * components over dedup pairs and SemDeDup-style cluster-then-dedup
  * ([[graft.operators.Similarity.semanticNearDups]]).
  *
  * Semantic dedup follows the planted-recall contract of the LSH gates —
  * the planted copy is each vector SCALED by 2 (cosine exactly-ish 1,
  * same argmin-L2 cell for any positive scale), so per-cell planted
  * counts are pinned exactly by the oracle's one-hot cell CASE (the
  * q_ivf_cells pattern).
  */
object PackQueries {

  val defs: Seq[QueryDef] = Seq(
    // --- connected components over dedup pairs ------------------------------
    // Planted contract: each doc with doc_id%4 = r > 0 contributes a CHAIN
    // of r edges over synthetic node ids doc_id + k*10^7 (k = 0..r), so the
    // component's node count is r+1 and its minimum is doc_id itself. Chains
    // have diameter up to 3 — the result is only reachable by transitive
    // propagation, which pins the CC algorithm (not just pair passthrough).
    QueryDef("q_dedup_groups",
      """SELECT CAST(doc_id AS BIGINT) AS component,
        |  CAST(doc_id % 4 + 1 AS BIGINT) AS csize
        |FROM documents WHERE doc_id % 4 <> 0
        |ORDER BY component NULLS FIRST""".stripMargin) { (s, d) =>
      val off = 10000000L
      val ids = Tables.documents(s, d).select(col("doc_id").cast("long").as("id"))
      val edges = ids.where(col("id") % 4 =!= 0)
        .select(col("id"), explode(sequence(lit(0L), col("id") % 4 - 1)).as("k"))
        .select((col("id") + col("k") * off).as("s"),
          (col("id") + (col("k") + 1) * off).as("d"))
      graft.operators.Dedup.connectedComponents(edges, "s", "d")
        .groupBy("component").agg(count(lit(1)).as("csize"))
        .orderBy("component")
    },

    // --- dup-cluster size histogram (corpus observability report) -----------
    // The "how duplicated is my corpus" report a curation run starts from:
    // REAL minhash near-dup pairs at 0.35 → connected components → cluster
    // sizes → (size, n_clusters, n_docs). Oracle recomputes the exact
    // 3-shingle-jaccard closure with the recursive CTE (sound on this
    // corpus — banding == exact is the q_pipeline_oracle_guard invariant).
    QueryDef("q_dedup_cluster_histogram",
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ts)-1),
        |    i -> array_to_string(ts[i:i+2], ' ')))) AS g
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts FROM documents)
        |  WHERE len(ts) >= 3),
        |szs AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |e0 AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS i
        |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |edges AS (
        |  SELECT a, b FROM e0
        |  JOIN szs sa ON sa.doc_id = e0.a JOIN szs sb ON sb.doc_id = e0.b
        |  WHERE 100 * e0.i >= 35 * (sa.n + sb.n - e0.i)),
        |bidir AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
        |reach(a, b) AS (
        |  SELECT a, b FROM bidir
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN bidir e ON r.b = e.a),
        |reps AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS rep FROM reach GROUP BY a),
        |cs AS (SELECT rep, CAST(COUNT(*) AS BIGINT) AS csize FROM reps GROUP BY rep)
        |SELECT csize, CAST(COUNT(*) AS BIGINT) AS n_clusters,
        |  CAST(SUM(csize) AS BIGINT) AS n_docs
        |FROM cs GROUP BY csize ORDER BY csize NULLS FIRST""".stripMargin) { (s, d) =>
      graft.operators.Dedup.nearDupComponents(
          Tables.documents(s, d), "doc_id", "text", 0.35)
        .groupBy("component").agg(count(lit(1)).as("csize"))
        .groupBy("csize").agg(count(lit(1)).as("n_clusters"),
          sum("csize").cast("long").as("n_docs"))
        .orderBy("csize")
    },

    // --- semantic dedup (cluster-then-cosine, planted-recall contract) ------
    QueryDef("q_semantic_dedup",
      """SELECT CAST(cell AS INT) AS cell, CAST(COUNT(*) AS BIGINT) AS planted,
        |  TRUE AS all_planted_found
        |FROM (
        |  SELECT CASE
        |    WHEN embedding[1] >= embedding[2] AND embedding[1] >= embedding[3]
        |     AND embedding[1] >= embedding[4] THEN 0
        |    WHEN embedding[2] >= embedding[3] AND embedding[2] >= embedding[4] THEN 1
        |    WHEN embedding[3] >= embedding[4] THEN 2
        |    ELSE 3 END AS cell
        |  FROM embeddings) t
        |GROUP BY cell ORDER BY cell NULLS FIRST""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      // planted near-dup: the SAME direction at double length — cosine 1,
      // identical argmin-L2 cell for the one-hot codebook at any scale
      val copy = emb.select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), x => x * 2f).as("embedding"))
      val doubled = emb.select("vec_id", "embedding").unionByName(copy)
      val oneHot = Array.tabulate(4)(j => Array.tabulate(64)(i => if (i == j) 1.0 else 0.0))
      // explicit cap: the planted-recall contract needs every cell searched,
      // and this gate's 4-cell corpus is bounded by the fixture size — the
      // pair-budget DEFAULT cap is for open-ended production cells
      val found = Similarity.semanticNearDups(doubled, "vec_id", "embedding", oneHot, 0.99,
          maxCell = 1 << 20)
        .where(col("b_id") === col("a_id") + 100000)
        .groupBy("cell").agg(count(lit(1)).as("found"))
      // per-cell planted counts: a second branch of the same job
      val planted = Similarity.assignCells(emb, "vec_id", "embedding", oneHot)
        .groupBy("cell").agg(count(lit(1)).as("planted"))
      planted.join(found, Seq("cell"), "left")
        .select(col("cell").cast("int").as("cell"), col("planted"),
          (coalesce(col("found"), lit(0L)) === col("planted")).as("all_planted_found"))
        .orderBy("cell")
    }
  )
}
