package graft.operators

import graft.SparkSpec

/** Round-9 matching/profiling addition: the n-gram uniqueness profile. */
class MatchOpsSpec extends SparkSpec {

  import spark.implicits._

  // --- TextRank.ngramUniqueness --------------------------------------------

  test("ngramUniqueness profiles borrowed vs novel phrases") {
    val docs = Seq(
      (1L, "the quick brown fox jumps"),     // 3 trigrams, all shared with 2
      (2L, "the quick brown fox jumps"),     // exact copy
      (3L, "a wholly original sentence here"), // 3 trigrams, unique
      (4L, "too short")                       // no trigrams
    ).toDF("doc_id", "text")
    val out = TextRank.ngramUniqueness(docs, "doc_id", "text", n = 3)
      .orderBy("doc_id")
      .as[(Long, Long, Option[Double])].collect()
    assert(out(0) == ((1L, 3L, Some(0.0))))
    assert(out(1) == ((2L, 3L, Some(0.0))))
    assert(out(2) == ((3L, 3L, Some(1.0))))
    assert(out(3) == ((4L, 0L, None)))
  }
}
