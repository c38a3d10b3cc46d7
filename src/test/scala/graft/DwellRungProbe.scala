package graft

/** Exact-vs-approx transition-dwell scale probe (diagnostic main, test
  * scope — run with
  * `sbt "Test/runMain graft.DwellRungProbe <sfDir> <cpus>"`): times
  * `Sessions.transitionDwell` in both percentile modes over the bucketed
  * events layout, on [[BenchSession.build]]'s session, and prints the
  * per-pair median drift, so the approxAccuracy trade documented in the
  * operator scaladoc is a measured number. Findings recorded in
  * BENCH_NOTES (r14-s2).
  */
object DwellRungProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: DwellRungProbe <sfDir> <cpus>")
    val dir = args(0)
    val spark = BenchSession.build(dir, args(1))
    spark.sparkContext.setLogLevel("ERROR")
    def time(what: String)(f: => Long): Long = {
      // min-of-2 like the bench: the host exhibits roving stalls
      def once(): Double = {
        val t0 = System.nanoTime(); val n = f
        val s = (System.nanoTime() - t0) / 1e9
        println(f"[dwell-rung] $what: $s%.2f s ($n rows)"); s
      }
      val a = once(); val b = once()
      println(f"[dwell-rung] $what min-of-2: ${math.min(a, b)}%.2f s")
      0L
    }
    val ev = Tables.eventsByUser(spark, dir)
    ev.count() // pay the one-time layout build outside the timings
    time("exact percentile") {
      graft.operators.Sessions
        .transitionDwell(ev, "user_id", "ts", "event_id", "event_type")
        .count()
    }
    time("approx_percentile(acc=10000)") {
      graft.operators.Sessions
        .transitionDwell(ev, "user_id", "ts", "event_id", "event_type",
          approxAccuracy = Some(10000))
        .count()
    }
    // accuracy drift: exact vs approx medians per pair
    import org.apache.spark.sql.functions._
    val e = graft.operators.Sessions
      .transitionDwell(ev, "user_id", "ts", "event_id", "event_type")
      .select(col("prev_type"), col("next_type"),
        col("median_gap").as("m_exact"), col("p90_gap").as("p_exact"))
    val a = graft.operators.Sessions
      .transitionDwell(ev, "user_id", "ts", "event_id", "event_type",
        approxAccuracy = Some(10000))
      .select(col("prev_type"), col("next_type"),
        col("median_gap").as("m_approx"), col("p90_gap").as("p_approx"))
    val drift = e.join(a, Seq("prev_type", "next_type"))
      .agg(max(abs(col("m_exact") - col("m_approx")) /
             greatest(col("m_exact"), lit(1.0))).as("max_median_rel_drift"),
        max(abs(col("p_exact") - col("p_approx")) /
             greatest(col("p_exact"), lit(1.0))).as("max_p90_rel_drift"))
      .head()
    println(f"[dwell-rung] max rel drift: median ${drift.getDouble(0)}%.6f " +
      f"p90 ${drift.getDouble(1)}%.6f")
    spark.stop()
  }
}
