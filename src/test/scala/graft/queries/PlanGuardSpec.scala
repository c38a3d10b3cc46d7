package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}

/** Global plan invariant over EVERY gate: no gate may plan a
  * CartesianProduct, and a BroadcastNestedLoopJoin is legal only when
  * its BROADCAST side is structurally bounded — a global aggregate
  * (exactly one row: the decimal-exact scalar threshold/max/avg pattern)
  * or a literal LocalTableScan (driver-computed boundary grids). No gate
  * is exempt.
  *
  * This is the sweep version of OperatorPlanSpec's per-family audits: a
  * future gate that degrades to an unbounded nested loop fails HERE even
  * before anyone writes its dedicated audit. Plans are built through
  * AQE's initial planning but not executed.
  */
class PlanGuardSpec extends SparkSpec {

  private def walk(p: SparkPlan): Seq[SparkPlan] = {
    val nested: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case _ => Seq.empty
    }
    p +: (p.children ++ nested).flatMap(walk)
  }

  /** Bounded at the ROOT, by construction: descend only through
    * row-count-preserving (or row-count-reducing) nodes; the first node
    * that can multiply rows decides. An `exists` over all descendants
    * would bless `fact.join(broadcast(scalar))` — millions of rows that
    * merely CONSUME a scalar — which is exactly the degradation this
    * guard exists to catch.
    */
  private def boundedBuildSide(p: SparkPlan): Boolean = p match {
    case a: BaseAggregateExec =>
      a.groupingExpressions.isEmpty // global agg = exactly one row
    case _: LocalTableScanExec => true // literal driver-computed rows
    case g: org.apache.spark.sql.execution.GlobalLimitExec => true
    case b: BroadcastNestedLoopJoinExec =>
      // scalar × scalar: a cross of two bounded sides is bounded
      boundedBuildSide(b.left) && boundedBuildSide(b.right)
    case a: AdaptiveSparkPlanExec => boundedBuildSide(a.executedPlan)
    case q: QueryStageExec => boundedBuildSide(q.plan)
    case r: ReusedExchangeExec => boundedBuildSide(r.child)
    // row-preserving / row-reducing wrappers: recurse into the child
    case _: org.apache.spark.sql.execution.ProjectExec |
         _: org.apache.spark.sql.execution.FilterExec |
         _: org.apache.spark.sql.execution.SortExec |
         _: org.apache.spark.sql.execution.CoalesceExec |
         _: org.apache.spark.sql.execution.LocalLimitExec |
         _: org.apache.spark.sql.execution.WholeStageCodegenExec |
         _: org.apache.spark.sql.execution.InputAdapter |
         _: org.apache.spark.sql.execution.exchange.Exchange =>
      boundedBuildSide(p.children.head)
    case _ => false
  }

  test("no gate plans a CartesianProduct; every BNLJ broadcasts a bounded side") {
    val violations = scala.collection.mutable.ListBuffer.empty[String]
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val root = fn(spark, sfDir).queryExecution.executedPlan
        val nodes = walk(root)
        if (nodes.exists(_.getClass.getSimpleName.startsWith("CartesianProduct")))
          violations += s"$name: CartesianProduct"
        nodes.collect { case b: BroadcastNestedLoopJoinExec => b }.foreach { b =>
          val bcast = b.buildSide match {
            case BuildLeft => b.left
            case BuildRight => b.right
          }
          if (!boundedBuildSide(bcast))
            violations += s"$name: BNLJ with unbounded build side:\n" +
              bcast.treeString.take(500)
        }
      } catch { case e: Throwable =>
        violations += s"$name: plan build failed: ${e.getMessage}"
      }
    }
    assert(violations.isEmpty,
      s"plan-guard violations:\n${violations.mkString("\n")}")
  }
}
