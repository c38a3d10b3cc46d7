package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Physical-plan assertions for the pipeline operators: the scale story
  * depends on joins broadcasting (not sort-merging) and top-k executing as
  * per-partition heaps — assert the plans, not just the results.
  */
class OperatorPlanSpec extends SparkSpec {

  /** The r14 TPC-H shape audits run at sf0.01: several of their filters
    * (two-nation pair, one nation's suppliers, majority-supplier parts)
    * are legitimately EMPTY at sf0.001, and AQE's empty-relation
    * propagation would erase the very joins under audit.
    */
  private val tpchDir = "/root/testdata/sf0.01"

  private def planString(df: DataFrame): String = {
    // materialize so AQE finalizes its join strategy choices
    df.collect()
    def finalPlan(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val root = finalPlan(df.queryExecution.executedPlan)
    (root +: root.collect { case a: AdaptiveSparkPlanExec => a.executedPlan })
      .map(_.treeString).mkString("\n")
  }

  test("decayedCount is a plain partial/final aggregate — one exchange") {
    val plan = planString(Sessions.decayedCount(
      Tables.events(spark, sfDir), "ts", Seq("event_type"),
      1706745600L, 604800.0))
    assert(plan.split("\n").count(_.contains("Exchange")) <= 1,
      s"decay agg must shuffle once:\n${plan.take(2000)}")
    assert(plan.contains("partial_sum") || plan.contains("HashAggregate"),
      plan.take(2000))
  }

  test("tpch q5 shape: every dim broadcasts, only the fact pair shuffle-joins") {
    val plan = planString(graft.SparkEntry.queries("q_tpch_q5")(spark, sfDir))
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(bhj >= 4, s"expected >=4 broadcast dim joins, got $bhj:\n${plan.take(3000)}")
    val shuffleJoins = "SortMergeJoin".r.findAllIn(plan).length +
      "ShuffledHashJoin".r.findAllIn(plan).length
    assert(shuffleJoins <= 1,
      s"only orders⋈lineitem may shuffle, got $shuffleJoins:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("tpch q1 shape: eight measures fold into ONE scan + one partial/final agg") {
    val plan = planString(graft.SparkEntry.queries("q_tpch_q1")(spark, sfDir))
    val scans = plan.split("\n").count(l =>
      l.contains("FileScan") || l.contains("BatchScan"))
    assert(scans == 1, s"a multi-measure aggregate must read lineitem once, " +
      s"got $scans scans:\n${plan.take(3000)}")
    val aggExchanges = plan.split("\n").count(_.contains("Exchange"))
    assert(aggExchanges <= 2, // partial->final hash + the final sort
      s"expected one agg shuffle (+ordering), got $aggExchanges:\n${plan.take(3000)}")
    assert(plan.contains("PushedFilters") && plan.contains("l_shipdate"),
      s"the ship-date filter must reach the parquet scan:\n${plan.take(3000)}")
  }

  test("tpch q18 shape: having-semi prunes, customer broadcasts, no BNLJ") {
    val plan = planString(graft.SparkEntry.queries("q_tpch_q18")(spark, sfDir))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"),
      s"customer must join as a broadcast dim:\n${plan.take(3000)}")
    // the fact side: the HAVING aggregation + the semi/final joins ride
    // l_orderkey/o_orderkey hash partitioning — bounded shuffle count,
    // no join may degrade to a nested loop
    val shuffleJoins = "SortMergeJoin".r.findAllIn(plan).length +
      "ShuffledHashJoin".r.findAllIn(plan).length
    assert(shuffleJoins <= 2,
      s"semi + final fact join at most, got $shuffleJoins:\n${plan.take(3000)}")
  }

  test("tpch q4/q13/q16 shapes: semi/outer/anti joins, no BNLJ anywhere") {
    val q4 = planString(graft.SparkEntry.queries("q_tpch_q4")(spark, sfDir))
    assert(q4.contains("LeftSemi"),
      s"EXISTS must compile to a semi join:\n${q4.take(2000)}")
    val q13 = planString(graft.SparkEntry.queries("q_tpch_q13")(spark, sfDir))
    assert(q13.contains("LeftOuter"),
      s"zero-order customers must survive the outer join:\n${q13.take(2000)}")
    val q16 = planString(graft.SparkEntry.queries("q_tpch_q16")(spark, sfDir))
    assert(q16.contains("LeftAnti"),
      s"the NOT-IN exclusion must be an anti join:\n${q16.take(2000)}")
    Seq("q4" -> q4, "q13" -> q13, "q16" -> q16).foreach { case (n, p) =>
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$n degraded:\n${p.take(2000)}")
    }
  }

  test("tpch q10/q14/q19 shapes: broadcast dims, disjunctive residual, no BNLJ") {
    val q10 = planString(graft.SparkEntry.queries("q_tpch_q10")(spark, sfDir))
    assert("BroadcastHashJoin".r.findAllIn(q10).length >= 2,
      s"customer and nation must broadcast:\n${q10.take(2500)}")
    val q14 = planString(graft.SparkEntry.queries("q_tpch_q14")(spark, sfDir))
    assert(q14.contains("BroadcastHashJoin") && q14.contains("PushedFilters") &&
      q14.contains("l_shipdate"),
      s"part broadcasts, ship-date filter reaches the scan:\n${q14.take(2500)}")
    // Q19's OR-of-ANDs must ride as a residual on the hash join, never
    // degrade the equi-join to a nested loop
    val q19 = planString(graft.SparkEntry.queries("q_tpch_q19")(spark, sfDir))
    assert(q19.contains("BroadcastHashJoin"), q19.take(2500))
    Seq("q10" -> q10, "q14" -> q14, "q19" -> q19).foreach { case (n, p) =>
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$n degraded:\n${p.take(2500)}")
    }
  }

  test("tpch q2/q17 shapes: correlated scalar as aggregate-rejoin, no BNLJ, one fact shuffle") {
    // the correlated-scalar family: per-group MIN/AVG compared back to
    // the row. The demanded shape — the aggregate's partial/final hash
    // exchange is the ONLY fact shuffle; the rejoin and every dim ride
    // broadcasts; nothing degrades to a nested loop.
    Seq("q_tpch_q2", "q_tpch_q17").foreach { name =>
      val plan = planString(graft.SparkEntry.queries(name)(spark, sfDir))
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$name degraded:\n${plan.take(2500)}")
      assert(plan.contains("HashAggregate"),
        s"$name must compute the correlated scalar as an aggregate:\n${plan.take(2500)}")
      assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2,
        s"$name: part prune + threshold rejoin must broadcast:\n${plan.take(2500)}")
      val shuffleJoins = "SortMergeJoin".r.findAllIn(plan).length +
        "ShuffledHashJoin".r.findAllIn(plan).length
      assert(shuffleJoins == 0,
        s"$name: the rejoin must broadcast, not shuffle, got $shuffleJoins:\n${plan.take(2500)}")
      // fact rows themselves never shuffle: the only hash exchanges are
      // the aggregate's partial->final pair (plus a final sort for q2)
      val hashExchanges = plan.split("\n")
        .count(l => l.contains("Exchange hashpartitioning"))
      assert(hashExchanges <= 1,
        s"$name: expected only the aggregate exchange, got $hashExchanges:\n${plan.take(2500)}")
    }
  }

  test("tpch q21/q22 shapes: single-pass EXISTS/NOT-EXISTS fold; global scalar + anti, no BNLJ") {
    // q21: the double-correlated self-join family folded into ONE
    // grouped pass — no semi/anti self-joins of the fact remain, so at
    // most the fact-pair shuffle join survives and lineitem scans once
    val q21 = planString(graft.SparkEntry.queries("q_tpch_q21")(spark, sfDir))
    assert(!q21.contains("CartesianProduct") &&
      !q21.contains("BroadcastNestedLoopJoin"), q21.take(2500))
    val q21LineitemScans = q21.split("\n")
      .count(l => l.contains("FileScan") && l.contains("lineitem"))
    assert(q21LineitemScans == 1,
      s"the EXISTS/NOT-EXISTS fold must scan lineitem ONCE, got $q21LineitemScans:\n${q21.take(2500)}")
    // q22: the global average is a broadcast 1-row scalar, never a
    // shuffle; the NOT EXISTS is a genuine anti join
    val q22 = planString(graft.SparkEntry.queries("q_tpch_q22")(spark, sfDir))
    assert(q22.contains("LeftAnti"),
      s"NOT EXISTS must compile to an anti join:\n${q22.take(2500)}")
    assert(!q22.contains("CartesianProduct"), q22.take(2500))
  }

  test("tpch q6 shape: one scan, pushed range filters, one aggregate exchange") {
    val plan = planString(graft.SparkEntry.queries("q_tpch_q6")(spark, tpchDir))
    val scans = plan.split("\n").count(l =>
      l.contains("FileScan") || l.contains("BatchScan"))
    assert(scans == 1, s"the predicate aggregate reads lineitem once, " +
      s"got $scans scans:\n${plan.take(3000)}")
    assert(plan.contains("PushedFilters") && plan.contains("l_shipdate"),
      s"the ship-date range must reach the parquet scan:\n${plan.take(3000)}")
    assert(!plan.contains("Join"), s"q6 has no join:\n${plan.take(3000)}")
    val exchanges = plan.split("\n").count(_.contains("Exchange"))
    assert(exchanges <= 1,
      s"global agg = one partial/final exchange, got $exchanges:\n${plan.take(3000)}")
  }

  test("tpch q7/q8/q9 shapes: dim chains broadcast, at most the fact-pair shuffle") {
    Seq("q_tpch_q7", "q_tpch_q8", "q_tpch_q9").foreach { name =>
      val plan = planString(graft.SparkEntry.queries(name)(spark, tpchDir))
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$name degraded:\n${plan.take(2500)}")
      assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2,
        s"$name: nation-filtered dim chains must broadcast:\n${plan.take(2500)}")
      val shuffleJoins = "SortMergeJoin".r.findAllIn(plan).length +
        "ShuffledHashJoin".r.findAllIn(plan).length
      assert(shuffleJoins <= 1,
        s"$name: only orders⋈lineitem may shuffle, got $shuffleJoins:\n${plan.take(2500)}")
    }
  }

  test("tpch q11/q15 shapes: global scalar broadcasts; fact shuffles only at the aggregate") {
    // the scalar-over-own-aggregate family: the 1-row global (total/max)
    // rides the documented broadcast nested-loop cross join — pin that
    // it is the ONLY nested-loop and that no join shuffles fact rows
    Seq("q_tpch_q11", "q_tpch_q15").foreach { name =>
      val plan = planString(graft.SparkEntry.queries(name)(spark, tpchDir))
      assert(!plan.contains("CartesianProduct"), s"$name:\n${plan.take(2500)}")
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
      assert(bnlj <= 1,
        s"$name: only the 1-row scalar may nested-loop, got $bnlj:\n${plan.take(2500)}")
      val shuffleJoins = "SortMergeJoin".r.findAllIn(plan).length +
        "ShuffledHashJoin".r.findAllIn(plan).length
      assert(shuffleJoins == 0,
        s"$name: rejoin must broadcast, got $shuffleJoins shuffle joins:\n${plan.take(2500)}")
      assert(plan.contains("HashAggregate"), plan.take(2500))
    }
  }

  test("tpch q18 over the co-bucketed fact pair: zero hash exchanges") {
    // the orderkey-bucketed layout must eliminate BOTH the HAVING
    // aggregate's exchange (groups on the bucket key) and the
    // orders⋈big join's exchanges (bucket-to-bucket co-location);
    // the only data movement left is the customer broadcast and the
    // TakeOrdered final
    val plan = planString(
      graft.SparkEntry.queries("q_tpch_q18_bucketed")(spark, tpchDir))
    val hashExchanges = plan.split("\n")
      .count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges == 0,
      s"co-bucketed q18 must not shuffle, got $hashExchanges:\n${plan.take(3000)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"customer still rides a broadcast:\n${plan.take(3000)}")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
  }

  test("tpch q10 over the co-bucketed fact pair: fact rows never shuffle") {
    // q10 is the suite's confirmed shuffle-bound gate at sf10 — the
    // bucketed layout must co-locate the fact join, leaving at most the
    // customer-grain aggregate's exchange (which moves map-side partial
    // aggregates, not fact rows)
    val plan = planString(
      graft.SparkEntry.queries("q_tpch_q10_bucketed")(spark, tpchDir))
    val hashExchanges = plan.split("\n")
      .count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges <= 1,
      s"only the aggregate may exchange, got $hashExchanges:\n${plan.take(3000)}")
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2,
      s"customer and nation must broadcast:\n${plan.take(3000)}")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
  }

  test("tpch q21 over the co-bucketed fact pair: only the supplier rollup exchanges") {
    // the single-pass fold groups on the bucket key, so the pair join AND
    // the correlation aggregate ride the bucketed scans; what's left is
    // the |suppliers|-sized s_name rollup
    val plan = planString(
      graft.SparkEntry.queries("q_tpch_q21_bucketed")(spark, tpchDir))
    val hashExchanges = plan.split("\n")
      .count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges <= 1,
      s"only the s_name rollup may exchange, got $hashExchanges:\n${plan.take(3000)}")
    val q21LineitemScans = plan.split("\n")
      .count(l => l.contains("FileScan") && l.contains("lineitem"))
    assert(q21LineitemScans == 1,
      s"the fold must still scan lineitem ONCE:\n${plan.take(3000)}")
  }

  test("tpch q12/q20 shapes: non-equi residual rides the join; semi-chain stays broadcast") {
    val q12 = planString(graft.SparkEntry.queries("q_tpch_q12")(spark, tpchDir))
    assert(!q12.contains("CartesianProduct") &&
      !q12.contains("BroadcastNestedLoopJoin"),
      s"the 60-day lateness residual must ride the equi join:\n${q12.take(2500)}")
    val q12ShuffleJoins = "SortMergeJoin".r.findAllIn(q12).length +
      "ShuffledHashJoin".r.findAllIn(q12).length
    assert(q12ShuffleJoins <= 1, s"one orderkey shuffle at most:\n${q12.take(2500)}")
    val q20 = planString(graft.SparkEntry.queries("q_tpch_q20")(spark, tpchDir))
    assert(q20.contains("LeftSemi"),
      s"the IN-subquery must compile to a semi join:\n${q20.take(2500)}")
    assert(!q20.contains("CartesianProduct") &&
      !q20.contains("BroadcastNestedLoopJoin"), q20.take(2500))
    val q20ShuffleJoins = "SortMergeJoin".r.findAllIn(q20).length +
      "ShuffledHashJoin".r.findAllIn(q20).length
    assert(q20ShuffleJoins == 0,
      s"threshold rejoin + semi chain must broadcast:\n${q20.take(2500)}")
  }

  test("rollingActiveUsers: no sliding countDistinct Expand; day grid broadcasts") {
    val plan = planString(Sessions.rollingActiveUsers(
      Tables.events(spark, sfDir), "user_id", "ts", Seq(1, 7, 28)))
    assert(!plan.contains("Expand"),
      s"conditional sums must replace countDistinct expansion:\n${plan.take(2000)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"the observed-day grid must broadcast:\n${plan.take(2000)}")
  }
}
