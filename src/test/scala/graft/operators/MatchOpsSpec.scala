package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-9 matching/profiling additions: corpus-wide paragraph dedup,
  * the n-gram uniqueness profile, and per-group score calibration.
  */
class MatchOpsSpec extends SparkSpec {

  import spark.implicits._

  test("paragraphDedup keeps first occurrences and rebuilds in order") {
    val docs = Seq(
      (1L, "alpha\n\nbody one\n\nomega"),
      (2L, "alpha\n\nbody two\n\nomega"),   // loses alpha + omega
      (3L, "alpha\n\nomega"),               // loses everything
      (4L, "body one\n\nrepeat\n\nrepeat"), // same-doc dup + cross-doc dup
      (5L, "fresh")
    ).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, String, Long)].collect()
    assert(out(0) == ((1L, "alpha\n\nbody one\n\nomega", 0L)))
    assert(out(1) == ((2L, "body two", 2L)))
    assert(out(2) == ((3L, "", 2L)))
    assert(out(3) == ((4L, "repeat", 2L)))
    assert(out(4) == ((5L, "fresh", 0L)))
  }

  test("paragraphDedup winner aggregation is partial (map-side combine)") {
    // the hot-key guard: winner selection must be an Aggregate on the
    // paragraph hash (partial-aggregatable min), not a window sort
    val docs = Seq((1L, "a\n\nb"), (2L, "a\n\nc")).toDF("doc_id", "text")
    val plan = Dedup.paragraphDedup(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"),
      s"expected hash aggregation in:\n$plan")
    assert(!plan.contains("Window"),
      s"winner selection must not be a window sort:\n$plan")
  }

  // --- Dedup.dedupWithinDoc ------------------------------------------------

  test("dedupWithinDoc removes only same-document copies, in order") {
    val docs = Seq(
      (1L, "nav\n\nbody one\n\nnav\n\nbody one"), // both repeats drop
      (2L, "nav\n\nbody two"),                    // cross-doc 'nav' survives
      (3L, "x\n\nx\n\nx\n\nx"))                   // 3 of 4 drop
      .toDF("doc_id", "text")
    val out = Dedup.dedupWithinDoc(docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, String, Long)].collect()
    assert(out(0) == ((1L, "nav\n\nbody one", 2L)))
    assert(out(1) == ((2L, "nav\n\nbody two", 0L)))
    assert(out(2) == ((3L, "x", 3L)))
  }

  test("dedupWithinDoc is shuffle-free (per-row fold, no exchange)") {
    val docs = Seq((1L, "a\n\nb\n\na")).toDF("doc_id", "text")
    val plan = Dedup.dedupWithinDoc(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"within-doc dedup must not shuffle:\n$plan")
  }

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

  // --- Dedup.sourceProfile -------------------------------------------------

  test("sourceProfile counts docs, distinct texts and cross-source overlap") {
    val docs = Seq(
      (1L, "shared", "a"), (2L, "shared", "a"),  // in-source dup
      (3L, "shared", "b"),                       // cross-source copy
      (4L, "only-a", "a"),
      (5L, "only-b", "b"), (6L, "only-b2", "b")
    ).toDF("doc_id", "text", "source")
    val out = Dedup.sourceProfile(docs, "text", "source")
      .orderBy("source").as[(String, Long, Long, Long)].collect()
    assert(out(0) == (("a", 3L, 2L, 1L)))
    assert(out(1) == (("b", 3L, 3L, 1L)))
  }

  // --- Sampling.systematicWeightedSample -----------------------------------

  test("systematicWeightedSample crosses k thresholds exactly") {
    // weights 1,1,1,1,6 over total 10 with k=5 → thresholds every 2:
    // cum = 1,2,3,4,10; crossings at cum 2 (doc 2), 4 (doc 4), 10 (doc 5:
    // spans 3 thresholds but emits once)
    val docs = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 6L))
      .toDF("doc_id", "w")
    val out = Sampling.systematicWeightedSample(docs, "doc_id", col("w"), k = 5)
      .orderBy("doc_id").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((2L, 1L), (4L, 1L), (5L, 6L)))
  }

  test("systematicWeightedSample is weight-proportional in expectation") {
    val docs = (1L to 100L).map(i => (i, if (i <= 10) 91L else 1L))
      .toDF("doc_id", "w")  // 10 heavy docs carry 910/1000 of the mass
    val kept = Sampling.systematicWeightedSample(docs, "doc_id", col("w"), k = 20)
      .as[(Long, Long)].collect()
    // every heavy doc (weight 91 > step 50) must cross a threshold and be
    // kept exactly once; the light tail (90 weight over step 50) yields 1-2
    val heavy = kept.count(_._1 <= 10)
    assert(heavy == 10, s"every heavy doc must be kept, got $heavy")
    assert(kept.length >= 11 && kept.length <= 12, s"got ${kept.length}")
  }

  // --- Sampling.calibrateScores --------------------------------------------

  test("calibrateScores computes in-group percentile and z-score") {
    val docs = Seq(
      (1L, "en", 10L), (2L, "en", 20L), (3L, "en", 30L),
      (4L, "de", 5L),                      // singleton group
      (5L, "fr", 7L), (6L, "fr", 7L)       // tied scores, zero variance
    ).toDF("doc_id", "lang", "n_chars")
    val out = Sampling.calibrateScores(docs, "doc_id", "lang", col("n_chars"))
      .orderBy("doc_id")
      .as[(Long, String, Long, Double, Double)].collect()
    assert(out(0) == ((1L, "en", 10L, 0.0, -1.0)))
    assert(out(1) == ((2L, "en", 20L, 0.5, 0.0)))
    assert(out(2) == ((3L, "en", 30L, 1.0, 1.0)))
    assert(out(3) == ((4L, "de", 5L, 0.0, 0.0)))   // singleton: pct 0, z 0
    // ties: percent_rank breaks by id; zero variance → z = 0
    assert(out(4) == ((5L, "fr", 7L, 0.0, 0.0)))
    assert(out(5) == ((6L, "fr", 7L, 1.0, 0.0)))
  }
}
