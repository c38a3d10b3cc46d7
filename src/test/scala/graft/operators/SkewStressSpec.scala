package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Skew stress for the banded candidate generators — the evidence behind
  * the 100× scale claims: a degenerate bucket (boilerplate duplicated
  * 10,000×, or a hot LSH cell) would fan out quadratically (~5·10⁷ pairs
  * from one bucket) if it reached the self-join. Each test plants exactly
  * that and asserts the cap (a) drops the degenerate bucket BEFORE the
  * join — the candidate set stays linear-sized, which is why the test
  * completes at all — and (b) leaves recall on the non-degenerate planted
  * pairs untouched.
  */
class SkewStressSpec extends SparkSpec {

  import spark.implicits._

  private val DegenerateCopies = 10000

  /** Normal docs + their mutated near-dup copies (+100000) + one
    * boilerplate text duplicated DegenerateCopies times at ids >= 10^6.
    */
  private def skewedCorpus = {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val mutated = docs.withColumn("doc_id", col("doc_id") + 100000)
      .withColumn("text", concat(col("text"), lit(" zz yy xx")))
    val boiler = spark.range(DegenerateCopies)
      .select((col("id") + 1000000L).as("doc_id"),
        lit("lorem ipsum dolor sit amet boilerplate header footer text").as("text"))
    docs.unionByName(mutated).unionByName(boiler)
  }

  test("minhash banding: the degenerate bucket is dropped, planted recall intact") {
    val corpus = skewedCorpus
    val sigs = Dedup.minhashSignatures(corpus, "doc_id", "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cands = Dedup.minhashCandidates(sigs, "doc_id", maxBucket = 1000)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val total = cands.count()
      // bounded: the 10k-identical bucket alone would be ~5*10^7 pairs
      assert(total < 100000L, s"degenerate bucket reached the self-join: $total pairs")
      // no candidate pair among the boilerplate clones
      assert(cands.where($"a_id" >= 1000000L && $"b_id" >= 1000000L).count() == 0L)
      // every planted (doc, doc+100000) pair with a signature is still found
      val planted = cands.where($"b_id" === $"a_id" + 100000 && $"a_id" < 100000)
        .where($"est_jaccard" >= 0.35).count()
      val expected = Tables.documents(spark, sfDir)
        .where(size(split(trim(col("text")), "\\s+")) >= 3).count()
      assert(planted == expected, s"planted recall $planted / $expected")
      cands.unpersist()
    } finally sigs.unpersist()
  }

  test("minhash banding rejects a band width that does not divide the signature") {
    val sigs = Seq((1L, Seq.fill(Dedup.NumHashes)(0L))).toDF("doc_id", "sig")
    assert(Dedup.bandBuckets(sigs, "doc_id", rowsPerBand = 2).count() == Dedup.NumHashes / 2)
    val e = intercept[IllegalArgumentException](
      Dedup.bandBuckets(sigs, "doc_id", rowsPerBand = 3))
    assert(e.getMessage.contains("rowsPerBand 3"))
  }

  test("simhash banding: the degenerate bucket is dropped, planted recall intact") {
    val corpus = skewedCorpus
    val pairs = Dedup.simhashNearDups(corpus, "doc_id", "text",
        maxHamming = 6, maxBucket = 1000)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      assert(pairs.where($"a_id" >= 1000000L && $"b_id" >= 1000000L).count() == 0L)
      // ground truth for the planted copies, computed directly on hashes
      val sh = Dedup.simhash(corpus.where($"doc_id" < 200000), "doc_id", "text")
      val truth = sh.select($"doc_id".as("a_id"), $"simhash".as("a_sh"))
        .join(sh.select(($"doc_id" - 100000).as("a_id"), $"simhash".as("b_sh")), "a_id")
        .where(bit_count($"a_sh".bitwiseXOR($"b_sh")) <= 6)
        .count()
      val found = pairs.where($"b_id" === $"a_id" + 100000 && $"a_id" < 100000).count()
      assert(found == truth, s"planted recall $found / $truth")
      pairs.unpersist()
    } finally ()
  }

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

  test("containment inverted index: the degenerate shingle is dropped, planted recall intact") {
    // 150 base docs + their 25-token prefix fragments (+100000, the
    // planted containment signal) + the boilerplate flood: every
    // boilerplate shingle sits in 10k docs, far past the cap — its
    // posting lists must die whole BEFORE the pair join
    val docs = Tables.documents(spark, sfDir)
      .where(col("doc_id") < 150).select("doc_id", "text")
    val frags = docs.select((col("doc_id") + 100000).as("doc_id"),
      array_join(slice(TextOps.tokens(trim(col("text"))), 1, 25), " ").as("text"))
    val boiler = spark.range(DegenerateCopies)
      .select((col("id") + 1000000L).as("doc_id"),
        lit("lorem ipsum dolor sit amet boilerplate header footer text").as("text"))
    val pairs = Dedup.containmentPairs(
        docs.unionByName(frags).unionByName(boiler), "doc_id", "text",
        k = 3, threshold = 0.8, maxDocsPerShingle = 64)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // no pair among the boilerplate clones (their buckets dropped whole;
      // an uncapped join would emit ~5*10^7 such pairs)
      assert(pairs.where($"a_id" >= 1000000L).count() == 0L,
        "degenerate shingle reached the pair join")
      // planted fragment containment intact: fragments of docs with > 25
      // tokens whose prefix shingles aren't themselves stopword-tier
      val found = pairs
        .where($"b_id" === $"a_id" + 100000 && $"c_ba" === 1.0).count()
      assert(found >= 100L, s"planted fragment recall collapsed: $found")
    } finally pairs.unpersist()
  }
}
