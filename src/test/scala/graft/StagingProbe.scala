package graft

import graft.operators.Staged
import org.apache.spark.sql.functions._

/** Micro-probe: cost of one Staged.materialize (parquet round trip) vs one
  * eager localCheckpoint for the node-sized tables the iterative operators
  * stage per round (OPTIMIZATION_r15.md §staging), on
  * [[BenchSession.build]]'s session (`sfDir` only sizes its initial
  * reducer count). Run:
  *   sbt "Test/runMain graft.StagingProbe <sfDir> <cpus>"
  */
object StagingProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: StagingProbe <sfDir> <cpus>")
    val spark = BenchSession.build(args(0), args(1))
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    // a node-sized table post-shuffle, like a rank table per iteration
    def mk() = spark.range(4096).select(col("id"),
        (col("id") % 97).as("k"), rand(7).as("v"))
      .groupBy("k").agg(sum("v").as("v"))
    def time(label: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    val tiny = spark.range(100).select(col("id"), (col("id") % 17).as("k"))
      .groupBy("k").agg(sum("id").as("v"))
      .crossJoin(broadcast(spark.range(1).select(lit(0.5).as("dm"))))
      .select(col("k"), (col("v") + col("dm")).as("v"))
    println(s"parquet-staged partitions: ${Staged.materialize(tiny).rdd.getNumPartitions}")
    val tc = tiny.localCheckpoint(true)
    println(s"localCheckpoint partitions: ${tc.rdd.getNumPartitions}")
    Staged.releaseCheckpoint(tc)
    // warm both paths once
    val warm1 = Staged.materialize(mk()).count()
    val warm2 = mk().localCheckpoint(true)
    warm2.count()
    Staged.releaseCheckpoint(warm2)
    for (i <- 1 to 3) {
      time(s"parquet-staged x5 [$i]") {
        var d = mk()
        for (_ <- 1 to 5) d = Staged.materialize(
          d.withColumn("v", col("v") * 1.01))
        d.count()
      }
      time(s"localCheckpoint x5 [$i]") {
        var d = mk().localCheckpoint(true)
        for (_ <- 1 to 5) {
          val n = d.withColumn("v", col("v") * 1.01).localCheckpoint(true)
          Staged.releaseCheckpoint(d)
          d = n
        }
        d.count()
        Staged.releaseCheckpoint(d)
      }
    }
    spark.stop()
  }
}
