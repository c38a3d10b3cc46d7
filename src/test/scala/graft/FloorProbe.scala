package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import java.util.concurrent.atomic.AtomicLong

/** Attribution probe for the ~0.1–0.15 s per-gate session floor
  * (BENCH_NOTES.md, r16 section): decompose a trivial gate's wall time into
  * driver-side planning (analysis → physical plan, forced without
  * execution) vs execution (noop write: AQE stage jobs + task scheduling
  * + codegen), and measure the irreducible minimum (a pre-planned
  * one-row frame's noop write). Flips AQE coalesce `parallelismFirst`
  * in-session to quantify the post-shuffle task-count contribution. The
  * session is [[BenchSession.build]]'s, so the floor is the bench's.
  *
  * Run: sbt "Test/runMain graft.FloorProbe <sfDir> <cpus>"
  */
object FloorProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: FloorProbe <sfDir> <cpus>")
    val d = args(0)
    val spark = BenchSession.build(d, args(1))
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicLong; val tasks = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
    })
    Tables.all.foreach { t =>
      try Tables.load(spark, d, t).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }

    // irreducible single-job floor: pre-planned one-row frame, noop write
    val one = spark.range(1).toDF("x")
    one.write.format("noop").mode("overwrite").save() // warm
    (1 to 3).foreach { i =>
      val t0 = System.nanoTime()
      one.write.format("noop").mode("overwrite").save()
      println(f"[floor] range1 noop write rep$i ${(System.nanoTime() - t0) / 1e6}%.1f ms")
    }

    val gates = Seq("q_time_filter", "q_wildcard_projection",
      "q_agg_count_star", "q_bucket_day", "q_expr_case_when", "q_window_rank")
    val byName = SparkEntry.queries
    def onePass(tag: String): Unit = {
      println(f"[floor] --- $tag ---")
      println(f"${"gate"}%-26s ${"plan_ms"}%8s ${"exec_ms"}%8s ${"jobs"}%5s ${"tasks"}%6s")
      gates.foreach { name =>
        val fn = byName(name)
        spark.catalog.clearCache()
        fn(spark, d).write.format("noop").mode("overwrite").save() // warm codegen
        var planMs, execMs = 0.0
        var jDelta, tDelta = 0L
        (1 to 3).foreach { _ =>
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          val df = fn(spark, d)
          df.queryExecution.executedPlan // force analysis+optimization+physical
          val t1 = System.nanoTime()
          val (j0, k0) = (jobs.get, tasks.get)
          df.write.format("noop").mode("overwrite").save()
          val t2 = System.nanoTime()
          planMs += (t1 - t0) / 1e6; execMs += (t2 - t1) / 1e6
          jDelta += jobs.get - j0; tDelta += tasks.get - k0
        }
        println(f"$name%-26s ${planMs / 3}%8.1f ${execMs / 3}%8.1f ${jDelta / 3}%5d ${tDelta / 3}%6d")
      }
    }
    onePass("parallelismFirst=true (default)")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    onePass("parallelismFirst=false")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
    spark.stop()
  }
}
