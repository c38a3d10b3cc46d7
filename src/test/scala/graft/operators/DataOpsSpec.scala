package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Round-8 data-pipeline additions: radius search, cluster-balanced
  * sampling and the quality-rule filter.
  */
class DataOpsSpec extends SparkSpec {

  import spark.implicits._

  // --- rangeSearch ---------------------------------------------------------

  test("rangeSearch matches the brute-force cosine filter") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.where(col("vec_id") < 3)
    val got = Similarity.rangeSearch(emb, "vec_id", "embedding", queries, 0.3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val want = emb.select(col("vec_id").as("query_id"), col("embedding").as("q"))
      .where(col("query_id") < 3)
      .crossJoin(emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("c")))
      .where(col("neighbor_id") =!= col("query_id"))
      .where(Similarity.cosineHof(col("q"), col("c")) >= 0.3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  // --- clusterBalance ------------------------------------------------------

  test("clusterBalance assigns to the nearest centroid and caps per cluster") {
    // two well-separated crafted centroids; vectors near each
    val dim = 4
    val c0 = Array.fill(dim)(0.0)
    val c1 = Array.fill(dim)(10.0)
    val rows = (0L until 20L).map { i =>
      val base = if (i % 2 == 0) 0.0f else 10.0f
      (i, Array.tabulate(dim)(d => base + (i % 3) * 0.1f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val kept = Similarity.clusterBalance(df, "vec_id", "embedding",
      Array(c0, c1), cap = 3)
    val byCell = kept.as[(Long, Int)].collect().groupBy(_._2)
    assert(byCell.keySet == Set(0, 1))
    // cap respected, smallest ids kept
    assert(byCell(0).map(_._1).sorted.toSeq == Seq(0L, 2L, 4L))
    assert(byCell(1).map(_._1).sorted.toSeq == Seq(1L, 3L, 5L))
  }

  test("labelConstrainedTopK respects the label predicate both ways") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.where(col("vec_id") < 3)
    val labels = emb.select(col("vec_id"), col("label")).as[(Long, Int)]
      .collect().toMap
    val neg = Similarity.labelConstrainedTopK(emb, "vec_id", "embedding",
        "label", queries, k = 5, excludeSameLabel = true)
      .orderBy("query_id", "rank")
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(neg.nonEmpty)
    neg.foreach { case (q, n) =>
      assert(labels(n) != labels(q), s"negative $n shares label with query $q")
    }
    val pos = Similarity.labelConstrainedTopK(emb, "vec_id", "embedding",
        "label", queries, k = 5, excludeSameLabel = false)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    pos.foreach { case (q, n) =>
      assert(labels(n) == labels(q), s"positive $n differs in label from $q")
      assert(n != q, "self must be excluded")
    }
    // the hardest negative is at least as similar as the 5th unconstrained
    // neighbor is NOT guaranteed — but the negative set must be exactly the
    // top of the label-filtered similarity order; cross-check one query
    val q0 = queries.orderBy("vec_id").select("vec_id").as[Long].head()
    val brute = emb.where(col("vec_id") =!= q0)
      .crossJoin(broadcast(queries.where(col("vec_id") === q0)
        .select(col("embedding").as("q_vec"), col("label").as("q_label"))))
      .where(col("label") =!= col("q_label"))
      .select(col("vec_id"),
        Similarity.cosineHof(col("q_vec"), col("embedding")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .select("vec_id").as[Long].take(5).toSeq
    assert(neg.filter(_._1 == q0).map(_._2).toSeq == brute)
  }

  // --- diverse selection ----------------------------------------------------

  test("kCenterSelect picks one point per planted orthogonal cluster first") {
    import spark.implicits._
    // 4 tight clusters along orthogonal axes; 3 points each. Greedy
    // farthest-point must cover all 4 clusters within the first 4 picks
    // (cosine distance between clusters = 1, within ≈ 0).
    val pts = for {
      c <- 0 until 4
      j <- 0 until 3
    } yield {
      val v = Array.fill(8)(0.001f * (j + 1))
      v(c * 2) = 1f
      ((c * 10 + j).toLong, v.toSeq)
    }
    val df = pts.toDF("id", "vec")
    val sel = Similarity.kCenterSelect(df, "id", "vec", k = 4)
      .collect().map(r => (r.getInt(0), r.getLong(1), Option(r.get(2))))
    assert(sel.map(_._1).toSeq == Seq(1, 2, 3, 4))
    assert(sel.map(_._2 / 10).toSet == Set(0L, 1L, 2L, 3L),
      s"first 4 picks must cover the 4 clusters: ${sel.toSeq}")
    assert(sel.head._3.isEmpty, "seed has no radius")
    val radii = sel.tail.map(_._3.get.asInstanceOf[Double]).toSeq
    assert(radii == radii.sorted.reverse,
      s"coverage radius must be non-increasing: ${radii.toSeq}")
    // 5th pick falls inside a covered cluster → radius collapses near 0
    val five = Similarity.kCenterSelect(df, "id", "vec", k = 5)
      .collect().map(r => Option(r.get(2))).last.get.asInstanceOf[Double]
    assert(five < 0.1, s"5th radius must be within-cluster: $five")
  }

  test("groupCentroids averages per dimension; cosineDouble scores exactly") {
    import spark.implicits._
    val df = Seq(
      (0, Seq(1f, 0f, 0f)), (0, Seq(3f, 0f, 0f)),   // centroid (2, 0, 0)
      (1, Seq(0f, 4f, 0f)),                          // centroid (0, 4, 0)
      (2, Seq(2f, 2f, 0f))).toDF("label", "vec")     // centroid (2, 2, 0)
    val cen = Similarity.groupCentroids(df, "label", "vec")
      .orderBy("group")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
    assert(cen(0) == ((0, 2L, Seq(2.0, 0.0, 0.0))))
    assert(cen(1) == ((1, 1L, Seq(0.0, 4.0, 0.0))))
    assert(cen(2) == ((2, 1L, Seq(2.0, 2.0, 0.0))))
    // orthogonal centroids -> 0; 45-degree -> 1/sqrt(2)
    val cens = Similarity.groupCentroids(df, "label", "vec")
    val a = cens.select(col("group").as("ga"), col("centroid").as("ca"))
    val b = cens.select(col("group").as("gb"), col("centroid").as("cb"))
    val cos = a.join(b, col("ga") < col("gb"))
      .select(col("ga"), col("gb"),
        graft.functions.VectorOps.cosineDouble(col("ca"), col("cb")).as("c"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(cos((0, 1)) == 0.0)
    assert(math.abs(cos((0, 2)) - 1.0 / math.sqrt(2)) < 1e-15)
    assert(math.abs(cos((1, 2)) - 1.0 / math.sqrt(2)) < 1e-15)
  }

  test("embeddingOutliers surfaces the planted far-from-centroid vector first") {
    // label 0: three near-identical vectors along e1 plus one along e2 —
    // the e2 vector is rank 1 (least similar to the group mean)
    val df = Seq(
      (1L, 0, Array(1.0, 0.01)), (2L, 0, Array(1.0, 0.02)),
      (3L, 0, Array(1.0, 0.0)), (4L, 0, Array(0.0, 1.0)),
      (5L, 1, Array(0.5, 0.5)), (6L, 1, Array(0.5, 0.5))
    ).toDF("id", "label", "vec")
    val got = Similarity.embeddingOutliers(df, "id", "label", "vec", k = 2)
      .orderBy("group", "rank")
      .select("group", "rank", "id")
      .as[(Int, Int, Long)].collect().toSeq
    assert(got.take(2).map(_._3) == Seq(4L, 3L), got.toString)
    assert(got.drop(2).map(_._3) == Seq(5L, 6L), got.toString) // tie → id order
  }

  test("embeddingOutliers trims map-side: WindowGroupLimit below the exchange") {
    val plan = Similarity.embeddingOutliers(Tables.embeddings(spark, sfDir),
      "vec_id", "label", "embedding", k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"expected partial window group limit:\n${plan.take(3000)}")
  }

  // --- mmrRerank / mmrSelect ----------------------------------------------

  test("mmrRerank diversifies: the planted duplicate loses to the orthogonal pick") {
    // corpus: 1=(1,0), 2=(1,0) exact duplicate, 3=(0,1); query (2,1).
    // rel(1)=rel(2)=2/√5, rel(3)=1/√5. Pure top-2 would take the
    // duplicate pair {1,2}; at λ=.5 the duplicate's margin
    // .5·rel − .5·cos(2,1)= −0.0528 falls below the orthogonal 0.2236.
    val cands = Seq(
      (0L, 1L, 2.0 / math.sqrt(5), Seq(1f, 0f)),
      (0L, 2L, 2.0 / math.sqrt(5), Seq(1f, 0f)),
      (0L, 3L, 1.0 / math.sqrt(5), Seq(0f, 1f)))
      .toDF("query_id", "neighbor_id", "cos", "c_vec")
    val got = Similarity.mmrRerank(cands, k = 3, lambda = 0.5)
      .orderBy("sel_rank")
      .select("sel_rank", "neighbor_id", "score")
      .as[(Int, Long, Double)].collect().toSeq
    assert(got.map(_._2) == Seq(1L, 3L, 2L),
      s"expected relevance pick, then diversity, then the duplicate: $got")
    // rank 1 breaks the exact relevance tie toward the smaller id
    assert(got.head._1 == 1 && got.head._2 == 1L)
    assert(math.abs(got(1)._3 - 0.223607) < 1e-9, s"$got")
    assert(got(2)._3 < 0, s"redundant pick carries a negative margin: $got")
  }

  test("mmrSelect rank-1 equals brute-force top-1; picks are distinct and capped") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.where(col("vec_id") < 3)
    val got = Similarity.mmrSelect(emb, "vec_id", "embedding", queries,
        n = 10, k = 4, lambda = 0.7)
      .select("query_id", "sel_rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSeq
    val top1 = Similarity.topKCosine(emb, "vec_id", "embedding", queries, 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    got.groupBy(_._1).foreach { case (q, sel) =>
      assert(sel.map(_._2).sorted == (1 to 4), s"ranks 1..4 per query: $sel")
      assert(sel.map(_._3).distinct.size == 4, s"picks must be distinct: $sel")
      assert(sel.find(_._2 == 1).get._3 == top1(q),
        s"first MMR pick is the pure-relevance top-1: $sel")
    }
    assert(got.map(_._1).distinct.size == 3)
  }
}
