package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import java.util.concurrent.atomic.AtomicLong

/** Per-gate job/stage/task counts (OPTIMIZATION_r15.md): which gates are
  * overhead-bound (many tiny jobs) vs compute-bound, on
  * [[BenchSession.build]]'s session. Run:
  *   sbt "Test/runMain graft.JobCountProbe <sfDir> <cpus> [regex]"
  */
object JobCountProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: JobCountProbe <sfDir> <cpus> [regex]")
    val d = args(0)
    val pattern = args.lift(2).getOrElse("q_").r
    val spark = BenchSession.build(d, args(1))
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicLong; val stages = new AtomicLong; val tasks = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
    })
    // table warmup like Bench
    Tables.all.foreach { t =>
      try Tables.load(spark, d, t).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    try Tables.eventsArchived(spark, d).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    println(f"${"gate"}%-34s ${"sec"}%7s ${"jobs"}%5s ${"stg"}%5s ${"tasks"}%6s")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => pattern.findFirstIn(n).isDefined }
      .foreach { case (name, fn) =>
        try {
          spark.catalog.clearCache()
          // warm run (codegen etc.), then measured run
          fn(spark, d).write.format("noop").mode("overwrite").save()
          Thread.sleep(150)
          val (j0, s0, t0) = (jobs.get, stages.get, tasks.get)
          val t = System.nanoTime()
          spark.catalog.clearCache()
          fn(spark, d).write.format("noop").mode("overwrite").save()
          val secs = (System.nanoTime() - t) / 1e9
          Thread.sleep(150)
          println(f"$name%-34s $secs%7.3f ${jobs.get - j0}%5d ${stages.get - s0}%5d ${tasks.get - t0}%6d")
        } catch { case e: Throwable =>
          println(s"$name FAILED ${e.getMessage.take(60)}")
        }
      }
    spark.stop()
  }
}
