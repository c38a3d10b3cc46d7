package graft

import org.apache.spark.sql.functions._

/** q_event_attribution_diff attribution (OPTIMIZATION_r15.md), on
  * [[BenchSession.build]]'s session. Run:
  *   sbt "Test/runMain graft.AttribProbe <sfDir> <cpus>"
  */
object AttribProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: AttribProbe <sfDir> <cpus>")
    val d = args(0)
    val spark = BenchSession.build(d, args(1))
    spark.sparkContext.setLogLevel("ERROR")
    def time(label: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    for (rnd <- 1 to 2) {
      println(s"--- round $rnd ---")
      val ev = Tables.eventsByUser(spark, d)
      val withoutLate = ev.where(!(col("event_type").isin("view", "click") &&
        col("event_id") % 7 === 3))
      time("  credits(batch side)") {
        noop(graft.operators.Sessions.attributionCredits(ev, "user_id", "ts",
          "event_type", Seq("view", "click"), "purchase", 259200L, 86400L))
      }
      time("  credits(streamed sim)") {
        noop(graft.operators.Sessions.attributionCredits(withoutLate, "user_id",
          "ts", "event_type", Seq("view", "click"), "purchase", 259200L, 86400L))
      }
      val streamedSim = graft.operators.Sessions.attributionCredits(
          withoutLate, "user_id", "ts", "event_type", Seq("view", "click"),
          "purchase", 259200L, 86400L)
        .select(col("user"), col("conv_ts").as("convTs"),
          col("touch_type").as("touchType"), col("touch_ts").as("touchTs"),
          col("first_touch").as("firstTouch"), col("last_touch").as("lastTouch"),
          col("linear"), col("position_based").as("positionBased"),
          col("time_decay").as("timeDecay"))
      time("  full diff") {
        noop(graft.operators.Sessions.attributionDiff(streamedSim, ev,
          "user_id", "ts", "event_type", Seq("view", "click"), "purchase",
          259200L, 86400L, 0L, 4102444800L))
      }
    }
    spark.stop()
  }
}
