package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-9 matching/profiling additions: corpus-wide paragraph dedup
  * and the n-gram uniqueness profile.
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
}
