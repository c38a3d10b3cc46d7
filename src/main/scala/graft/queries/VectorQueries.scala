package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.VectorOps
import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Gate queries for the vector helpers: the codegen'd cosine expression
  * ([[graft.functions.VectorOps]]), IVF cell assignment
  * ([[graft.operators.Similarity.assignCells]]) and per-cluster
  * silhouette ([[graft.operators.Similarity.clusterSilhouette]]).
  *
  * Each gate gets a real DuckDB value compare: cell assignment uses
  * one-hot centroids so argmin-L2 reduces to an exact argmax over the
  * first four float components.
  */
object VectorQueries {

  val defs: Seq[QueryDef] = Seq(
    // --- codegen'd cosine expression ----------------------------------------
    // the exactness contract (CosineSim ≡ the interpreted HOF fold,
    // bit-identical) asserted in-query over every adjacent-id pair; the
    // oracle pins the pair count (the recall-flag gate pattern)
    QueryDef("q_vector_cosine",
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs, TRUE AS codegen_matches_hof
        |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val shifted = emb.select((col("vec_id") + 1).as("vec_id"),
        col("embedding").as("emb_b"))
      emb.join(shifted, "vec_id")
        .select(VectorOps.cosine(col("embedding"), col("emb_b")).as("cg"),
          Similarity.cosineHof(col("embedding"), col("emb_b")).as("hof"))
        .agg(count(lit(1)).as("n_pairs"),
          min(col("cg") === col("hof")).as("codegen_matches_hof"))
    },

    // --- IVF cell assignment (k-means assignment step) ----------------------
    // one-hot centroids e_0..e_3: argmin ||v - e_j||² ≡ argmax v[j], so the
    // UDF's double-precision assignment is exactly reproducible in SQL over
    // the float components (no ties in the corpus — verified per sf)
    QueryDef("q_ivf_cells",
      """SELECT CAST(cell AS INT) AS cell, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        |  SELECT CASE
        |    WHEN embedding[1] >= embedding[2] AND embedding[1] >= embedding[3]
        |     AND embedding[1] >= embedding[4] THEN 0
        |    WHEN embedding[2] >= embedding[3] AND embedding[2] >= embedding[4] THEN 1
        |    WHEN embedding[3] >= embedding[4] THEN 2
        |    ELSE 3 END AS cell
        |  FROM embeddings) t
        |GROUP BY cell ORDER BY cell NULLS FIRST""".stripMargin) { (s, d) =>
      val oneHot = Array.tabulate(4)(j => Array.tabulate(64)(i => if (i == j) 1.0 else 0.0))
      Similarity.assignCells(Tables.embeddings(s, d), "vec_id", "embedding", oneHot)
        .groupBy(col("cell").cast("int").as("cell"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("cell")
    },

    // --- per-cluster silhouette (session 4): centroid-form clustering
    // quality over the same one-hot cells as q_ivf_cells — both engines
    // fold the 64-dim squared distance term for term (no pow(), the
    // explicit product), so ROUND(mean, 4) compares exactly.
    QueryDef("q_cluster_silhouette",
      """WITH d AS (
        |  SELECT vec_id, embedding,
        |    CASE WHEN embedding[1] >= embedding[2] AND embedding[1] >= embedding[3]
        |          AND embedding[1] >= embedding[4] THEN 0
        |         WHEN embedding[2] >= embedding[3] AND embedding[2] >= embedding[4] THEN 1
        |         WHEN embedding[3] >= embedding[4] THEN 2 ELSE 3 END AS cell
        |  FROM embeddings),
        |dist AS (
        |  SELECT vec_id, cell,
        |    list_transform(range(0, 4), j ->
        |      list_sum(list_transform(range(1, 65), i ->
        |        (CAST(embedding[i] AS DOUBLE) -
        |          CASE WHEN i = j + 1 THEN 1.0 ELSE 0.0 END)
        |        * (CAST(embedding[i] AS DOUBLE) -
        |          CASE WHEN i = j + 1 THEN 1.0 ELSE 0.0 END)))) AS ds
        |  FROM d),
        |s AS (
        |  SELECT cell, ds[cell + 1] AS a,
        |    list_min(list_transform(range(0, 4), j ->
        |      CASE WHEN j = cell THEN CAST('infinity' AS DOUBLE)
        |           ELSE ds[j + 1] END)) AS b
        |  FROM dist),
        |sil AS (SELECT cell,
        |    CASE WHEN greatest(a, b) > 0 THEN (b - a) / greatest(a, b)
        |         ELSE 0.0 END AS s
        |  FROM s)
        |SELECT CAST(cell AS INT) AS cell, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(AVG(s), 4) AS mean_sil
        |FROM sil GROUP BY 1 ORDER BY cell NULLS FIRST""".stripMargin) { (s, d) =>
      val oneHot = Array.tabulate(4)(j =>
        Array.tabulate(64)(i => if (i == j) 1.0 else 0.0))
      Similarity.clusterSilhouette(Tables.embeddings(s, d), "vec_id",
          "embedding", oneHot)
        .select(col("cell").cast("int").as("cell"), col("n"), col("mean_sil"))
        .orderBy("cell")
    },
  )
}
