package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  private def emb = Tables.embeddings(spark, sfDir)

  test("brute-force top-k is consistent with pairwise cosine ordering") {
    val topk = Similarity.topKCosine(emb, "vec_id", "embedding",
      emb.where(col("vec_id") < 3), 5).collect()
    assert(topk.length == 15)
    val byQuery = topk.groupBy(_.getLong(0))
    byQuery.values.foreach { rows =>
      val cs = rows.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b }, "ranks sorted by cos")
    }
  }

  test("multi-table LSH recovers planted high-similarity pairs") {
    val perturbed = emb
      .withColumn("vec_id", col("vec_id") + 100000)
      .withColumn("embedding",
        transform(col("embedding"), (x, i) =>
          (x.cast("double") + sin(i.cast("double") * 0.7) * 0.03).cast("float")))
    val n = emb.count()
    val found = Similarity.lshNearPairs(emb.unionByName(perturbed),
        "vec_id", "embedding", dim = 64, threshold = 0.9)
      .where(col("b_id") === col("a_id") + 100000)
      .count()
    assert(found >= (n * 0.9).toLong, s"LSH recall too low: $found of $n")
  }

  test("IVF probes recover most exact top-k neighbors") {
    val queries = emb.where(col("vec_id") < 10)
    val exact = Similarity.topKCosine(emb, "vec_id", "embedding", queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", queries, 5,
        nlist = 16, nProbe = 6)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.6, s"IVF recall@5 too low: $recall")
    // every IVF hit that IS in the exact set must carry the same cosine order
    assert(ivf.nonEmpty)
  }

  test("kmeans-refined centroids keep planted-source recall at tight probes") {
    // perturbed copies must still find their source with refined cells
    val queries = emb.where(col("vec_id") < 20)
      .withColumn("vec_id", col("vec_id") + 100000)
      .withColumn("embedding",
        transform(col("embedding"), (x, i) =>
          (x.cast("double") + sin(i.cast("double") * 1.3) * 0.01).cast("float")))
    val found = Similarity.ivfTopK(emb, "vec_id", "embedding", queries, 5,
        nlist = 16, nProbe = 3, refineIterations = 2)
      .where(col("neighbor_id") === col("query_id") - 100000)
      .count()
    assert(found >= 18, s"refined IVF lost planted sources: $found of 20")
  }

  test("blocked exact pairs match the expression-based brute force bit-for-bit") {
    val brute = Similarity.brutePairs(emb, "vec_id", "embedding", 0.42)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = Similarity.exactPairsBlocked(emb, "vec_id", "embedding", 0.42, nBlocks = 4)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked == brute, s"blocked=${blocked.size} brute=${brute.size}")
  }

  test("clusterSilhouette: hand-computed means, first-index tie, zero-distance 0") {
    import spark.implicits._
    val c0 = Array(0.0, 0.0); val c1 = Array(10.0, 0.0)
    val vecs = Seq(
      (1L, Array(0.0f, 0.0f)),   // on c0: a=0, b=100, s=1
      (2L, Array(1.0f, 0.0f)),   // a=1, b=81, s=80/81
      (3L, Array(10.0f, 0.0f)),  // on c1: s=1
      (4L, Array(5.0f, 0.0f)))   // equidistant (a=b=25) -> cell 0 (first
                                 // minimal index), s=0
      .toDF("id", "v")
    val got = Similarity.clusterSilhouette(vecs, "id", "v",
        Array(c0, c1))
      .as[(Int, Long, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(0) == ((3L, r4((1.0 + 80.0 / 81 + 0.0) / 3))), got.toString)
    assert(got(1) == ((1L, 1.0)), got.toString)
  }

  test("marginMining matches a hand brute-force reference and honors the threshold") {
    import spark.implicits._
    def vec(seed: Int): Array[Float] =
      Array.tabulate(4)(j => (((seed * 7 + j * 3) % 11) - 5) / 5.0f + 1.2f)
    val a = (1 to 4).map(i => (i.toLong, 0, vec(i)))
    val b = (101 to 106).map(i => (i.toLong, 1, vec(i)))
    val corpus = (a ++ b).toDF("vec_id", "label", "embedding")
    val k = 2

    // reference: same double-fold cosine, same max strategy
    def cos(x: Array[Float], y: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- x.indices) {
        val xi = x(i).toDouble; val yi = y(i).toDouble
        d += xi * yi; na += xi * xi; nb += yi * yi
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    def r4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def topk(q: Array[Float], side: Seq[(Long, Int, Array[Float])]) =
      side.map(c => (c._1, cos(q, c._3)))
        .sortBy { case (id, c) => (-c, id) }.take(k)
    val fwd = a.map(x => x._1 -> topk(x._3, b)).toMap
    val denA = fwd.map { case (x, nn) => x -> nn.map(_._2).sum / k }
    val candIds = fwd.values.flatten.map(_._1).toSet
    val denB = candIds.map { y =>
      val yv = b.find(_._1 == y).get._3
      y -> topk(yv, a).map(_._2).sum / k
    }.toMap
    val expected = a.flatMap { x =>
      val scored = fwd(x._1).map { case (y, c) =>
        (y, c, r4(c / ((denA(x._1) + denB(y)) / 2))) }
      val best = scored.minBy { case (y, _, m) => (-m, y) }
      if (best._3 >= 0.9) Some((x._1, best._1, r4(best._2), best._3)) else None
    }.toSet

    val got = Similarity.marginMining(corpus, "vec_id", "embedding", "label",
        lit(0), lit(1), k = k, threshold = 0.9)
      .as[(Long, Long, Double, Double)].collect().toSet
    assert(got == expected, s"got $got expected $expected")

    // a prohibitive threshold filters everything
    val none = Similarity.marginMining(corpus, "vec_id", "embedding", "label",
        lit(0), lit(1), k = k, threshold = 99.0).count()
    assert(none == 0L)
  }
}

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("shingles: 3-grams of a 5-token doc, short docs empty") {
    val df = Seq("a b c d e", "a b").toDF("text")
      .select(TextOps.shingles(TextOps.tokens(col("text")), 3).as("sh"))
    val rows = df.collect().map(_.getSeq[String](0))
    assert(rows(0) == Seq("a b c", "b c d", "c d e"))
    assert(rows(1).isEmpty)
  }

  test("language prediction: strict majority vote, und on tie") {
    val df = Seq(
      "the cat and the dog",   // en
      "der hund und die katze", // de
      "qq ww rr",               // no hits in any vocab → und
      "the der"                 // tie → und
    ).toDF("text")
      .select(TextOps.predictLang(TextOps.tokens(col("text"))).as("l"))
    assert(df.collect().map(_.getString(0)).toSeq == Seq("en", "de", "und", "und"))
  }

  test("normalizeText: case, punctuation and whitespace runs collapse; alnum kept") {
    val df = Seq(
      "Hello, World!",
      "hello world",
      "  HELLO   world  ",
      "h3llo w0rld",
      "a-b c_d").toDF("text")
      .select(TextOps.normalizeText(col("text")).as("n"))
    val out = df.collect().map(_.getString(0))
    assert(out(0) == "hello world")
    assert(out(1) == "hello world")
    assert(out(2) == "hello world")
    assert(out(3) == "h3llo w0rld")
    // punctuation is STRIPPED, not replaced by space (joined fragments)
    assert(out(4) == "ab cd")
  }

  test("normalizeText strips vertical tab (the one char Java \\s and RE2 \\s disagree on)") {
    // \x0B is whitespace to Java but NOT to RE2; the explicit class treats
    // it as a strippable char in BOTH engines → "ab", not "a b"
    val out = Seq("a\u000Bb").toDF("text")
      .select(TextOps.normalizeText(col("text")).as("n"))
      .head.getString(0)
    assert(out == "ab", s"got '$out'")
  }

  test("rolling fingerprint is order-sensitive and stable") {
    val df = Seq("a b c", "c b a", "a b c").toDF("text")
      .select(TextOps.fingerprintRolling(TextOps.tokens(col("text"))).as("fp"))
    val fps = df.collect().map(_.getLong(0))
    assert(fps(0) == fps(2))
    assert(fps(0) != fps(1))
  }
}
