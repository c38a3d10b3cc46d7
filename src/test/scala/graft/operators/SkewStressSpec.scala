package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Skew stress for the banded candidate generators — the evidence behind
  * the 100× scale claims: a degenerate bucket (10,000 zero vectors in one
  * LSH bucket or cluster cell) would fan out quadratically (~5·10⁷ pairs
  * from one bucket) if it reached the self-join. Each test plants exactly
  * that and asserts the cap (a) drops the degenerate bucket BEFORE the
  * join — the candidate set stays linear-sized, which is why the test
  * completes at all — and (b) leaves recall on the non-degenerate planted
  * pairs untouched.
  */
class SkewStressSpec extends SparkSpec {

  import spark.implicits._

  private val DegenerateCopies = 10000

  test("vector LSH: a hot cell (zero vectors) is dropped, planted recall intact") {
    val emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val perturbed = emb.withColumn("vec_id", col("vec_id") + 100000)
      .withColumn("embedding", transform(col("embedding"),
        (x, i) => (x.cast("double") + sin(i.cast("double") * 0.7) * 0.03).cast("float")))
    // zero vectors: every table hashes them to the same bucket
    val zeros = spark.range(DegenerateCopies)
      .select((col("id") + 1000000L).as("vec_id"),
        array_repeat(lit(0.0f), 64).as("embedding"))
    val corpus = emb.unionByName(perturbed).unionByName(zeros)
    val pairs = Similarity.lshNearPairs(corpus, "vec_id", "embedding",
        dim = 64, threshold = 0.9, maxBucket = 1000)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      assert(pairs.where($"a_id" >= 1000000L && $"b_id" >= 1000000L).count() == 0L)
      val found = pairs.where($"b_id" === $"a_id" + 100000 && $"a_id" < 100000).count()
      val n = emb.count()
      assert(found >= (n * 0.9).toLong, s"planted recall $found / $n")
      pairs.unpersist()
    } finally ()
  }

  test("clusterBalance: a degenerate hot cell still caps at the limit") {
    // one centroid at the origin attracts DegenerateCopies zero vectors;
    // the cap must hold and the other cell keeps its normal members
    val zeros = spark.range(DegenerateCopies)
      .select((col("id") + 1000000L).as("vec_id"),
        array_repeat(lit(0.0f), 8).as("embedding"))
    val far = spark.range(20)
      .select(col("id").as("vec_id"),
        array_repeat(lit(10.0f), 8).as("embedding"))
    val corpus = zeros.unionByName(far)
    val centroids = Array(Array.fill(8)(0.0), Array.fill(8)(10.0))
    val kept = Similarity.clusterBalance(corpus, "vec_id", "embedding",
        centroids, cap = 25)
      .groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(kept(0) == 25L, s"hot cell must cap at 25: $kept")
    assert(kept(1) == 20L, s"normal cell keeps all members: $kept")
  }
}
