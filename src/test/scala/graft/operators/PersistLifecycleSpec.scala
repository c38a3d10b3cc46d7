package graft.operators

import graft.{SparkEntry, SparkSpec}

/** Persist lifecycle: the pipeline operators (vector LSH) stage their
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

  test("q_ann_lsh leaves no persisted RDDs")(assertClean("q_ann_lsh"))
}
