package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Gate query for SemDeDup-style cluster-then-dedup
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
