package graft.operators

import graft.{SparkEntry, SparkSpec}

/** Persist lifecycle: the pipeline operators (minhash dedup, vector LSH,
  * connected components) stage their
  * bounded results and release every internal cache/checkpoint before
  * returning — a long-lived server invoking them repeatedly must not
  * accumulate resident blocks. Pinned here by running the actual GATES and
  * asserting `sparkContext.getPersistentRDDs` is empty afterwards.
  */
class PersistLifecycleSpec extends SparkSpec {

  private def assertClean(gate: String): Unit = {
    // drop anything a previously-run suite left behind so the assertion
    // isolates THIS gate's footprint
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    spark.catalog.clearCache()
    SparkEntry.queries(gate)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    val resident = spark.sparkContext.getPersistentRDDs
    assert(resident.isEmpty,
      s"$gate left persisted RDDs resident: " +
        resident.map { case (id, r) => s"$id:${r.name}" }.mkString(", "))
  }

  test("q_dedup_minhash leaves no persisted RDDs")(assertClean("q_dedup_minhash"))
  test("q_ann_lsh leaves no persisted RDDs")(assertClean("q_ann_lsh"))
  test("q_dedup_groups leaves no persisted RDDs")(assertClean("q_dedup_groups"))
  test("q_dedup_incremental leaves no persisted RDDs")(assertClean("q_dedup_incremental"))
  test("q_dedup_keep_best leaves no persisted RDDs")(assertClean("q_dedup_keep_best"))

  test("distributed connected components leaves no persisted RDDs") {
    import spark.implicits._
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    // chain + triangle + isolated pair, forced through the distributed branch
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("a", "b")
    val comp = Dedup.connectedComponents(edges, "a", "b", localThreshold = 0)
    val got = comp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "connectedComponents left checkpoint blocks resident")
  }
}
