package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Plan-shape audit (diagnostic main, test scope — run with
  * `sbt "Test/runMain graft.SortAudit <sfDir> <cpus>"`): lists gates whose physical
  * plan has a global Sort whose range exchange sits over a child with
  * NO further exchange — the shape where the range partitioner's
  * sampling pass re-executes the whole child (nothing below it is
  * reusable). Benign when the child is a raw scan or a pruned slice;
  * pathological when it is an expensive full-corpus projection (the
  * q_quality_classifier finding, BENCH_NOTES r11: 221 s vs 7 s at sf10
  * — fixed by sorting the cheap input instead). Re-run after adding
  * gates; flag any new full-corpus expensive-projection hit. The plans
  * are the ones [[BenchSession.build]]'s session gives the bench.
  */
object SortAudit {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: SortAudit <sfDir> <cpus>")
    val sfDir = args(0)
    val spark = BenchSession.build(sfDir, args(1))
    spark.sparkContext.setLogLevel("ERROR")
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.initialPlan)
      case other => other.children
    }
    def hasExchange(p: SparkPlan): Boolean =
      p.isInstanceOf[ShuffleExchangeLike] || kids(p).exists(hasExchange)
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan
        // find range exchanges (global sort shuffles) with exchange-free input
        def walk(p: SparkPlan): Unit = {
          p match {
            case e: ShuffleExchangeLike
                if e.outputPartitioning
                  .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RangePartitioning] =>
              if (!kids(e).exists(hasExchange))
                println(s"AUDIT $name: global sort over exchange-free child")
            case _ =>
          }
          kids(p).foreach(walk)
        }
        walk(plan)
        // ORDER-CONTRACT audit: gates that sort the INPUT (or an interior
        // stage) and rely on narrow transformations preserving the order
        // to the output break SILENTLY if a later change introduces an
        // exchange above the sort — rows reach the client reordered while
        // the SQL oracle stays ORDER BY'd. Flag any exchange on the path
        // from the root down to the topmost global sort.
        def isSortish(p: SparkPlan): Boolean = p match {
          case s: org.apache.spark.sql.execution.SortExec => s.global
          case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => true
          case e: ShuffleExchangeLike =>
            e.outputPartitioning
              .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RangePartitioning]
          case _ => false
        }
        def orderWalk(p: SparkPlan, exchangesAbove: Int): Unit =
          if (isSortish(p)) {
            if (exchangesAbove > 0)
              println(s"AUDIT $name: $exchangesAbove exchange(s) ABOVE the " +
                "topmost sort — ORDER BY contract broken")
          } else {
            val bump = if (p.isInstanceOf[ShuffleExchangeLike]) 1 else 0
            kids(p).foreach(orderWalk(_, exchangesAbove + bump))
          }
        orderWalk(plan, 0)
      } catch { case e: Throwable =>
        println(s"AUDIT $name: ERROR ${e.getMessage.take(80)}")
      }
    }
    println("AUDIT done")
    spark.stop()
  }
}
