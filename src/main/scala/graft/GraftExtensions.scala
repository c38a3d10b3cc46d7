package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{GetHllValue, HllAggregate, HllFromRegistersAggregate, HllMergeAggregate}

/** SQL surface for the custom Catalyst expressions: registered through
  * `SparkSessionExtensions` (`spark.sql.extensions=graft.GraftExtensions`
  * on any cluster, or [[GraftExtensions.register]] on an existing
  * session), so `spark.sql("SELECT hll_estimate(user_id) FROM ...")`
  * works for SQL-only users exactly like the Column API does for Scala
  * users — the same AggregateExpression, same codegen, same partial/final
  * merge.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.builders.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftExtensions {

  /** (name, info, builder) for every injected function. */
  val builders: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("hll_estimate",
      new ExpressionInfo(classOf[HllAggregate].getName, "hll_estimate"),
      (es: Seq[Expression]) =>
        HllAggregate(es.head, sketchOutput = false).toAggregateExpression()),
    ("hll_sketch",
      new ExpressionInfo(classOf[HllAggregate].getName, "hll_sketch"),
      (es: Seq[Expression]) =>
        HllAggregate(es.head, sketchOutput = true).toAggregateExpression()),
    ("hll_merge_estimate",
      new ExpressionInfo(classOf[HllMergeAggregate].getName, "hll_merge_estimate"),
      (es: Seq[Expression]) =>
        HllMergeAggregate(es.head, sketchOutput = false).toAggregateExpression()),
    ("hll_merge_sketch",
      new ExpressionInfo(classOf[HllMergeAggregate].getName, "hll_merge_sketch"),
      (es: Seq[Expression]) =>
        HllMergeAggregate(es.head, sketchOutput = true).toAggregateExpression()),
    ("hll_from_registers",
      new ExpressionInfo(classOf[HllFromRegistersAggregate].getName, "hll_from_registers"),
      (es: Seq[Expression]) =>
        HllFromRegistersAggregate(es.head).toAggregateExpression()),
    ("get_hll_value",
      new ExpressionInfo(classOf[GetHllValue].getName, "get_hll_value"),
      (es: Seq[Expression]) => GetHllValue(es.head)))

  /** Imperative form for an already-running session (same builders the
    * extensions path injects).
    */
  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, info, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(FunctionIdentifier(name), info, builder)
    }
}
