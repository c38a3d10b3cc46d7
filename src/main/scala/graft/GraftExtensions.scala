package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.{BloomAggregate, CmsAggregate, FreqItemsAggregate, GetHllValue, HllAggregate, HllFromRegistersAggregate, HllMergeAggregate, KmvAggregate}

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

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

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
      (es: Seq[Expression]) => GetHllValue(es.head)),
    ("freq_items_mg",
      new ExpressionInfo(classOf[FreqItemsAggregate].getName, "freq_items_mg"),
      (es: Seq[Expression]) =>
        FreqItemsAggregate(es.head, intArg(es(1), "freq_items_mg capacity"))
          .toAggregateExpression()),
    ("kmv_sketch",
      new ExpressionInfo(classOf[KmvAggregate].getName, "kmv_sketch"),
      (es: Seq[Expression]) =>
        KmvAggregate(es.head, intArg(es(1), "kmv_sketch k"))
          .toAggregateExpression()),
    ("bloom_sketch",
      new ExpressionInfo(classOf[BloomAggregate].getName, "bloom_sketch"),
      (es: Seq[Expression]) =>
        BloomAggregate(es.head, intArg(es(1), "bloom_sketch mBits"),
          intArg(es(2), "bloom_sketch seeds")).toAggregateExpression()),
    ("cms_sketch",
      new ExpressionInfo(classOf[CmsAggregate].getName, "cms_sketch"),
      (es: Seq[Expression]) =>
        CmsAggregate(es.head, intArg(es(1), "cms_sketch width"),
          intArg(es(2), "cms_sketch depth")).toAggregateExpression()),
    // text kernels (the byte-walk family) for SQL-only pipelines
    ("tokenize_ws",
      new ExpressionInfo(classOf[graft.functions.TokenizeWsExpr].getName,
        "tokenize_ws"),
      (es: Seq[Expression]) => graft.functions.TokenizeWsExpr(es.head)),
    ("tokenize_bpeish",
      new ExpressionInfo(classOf[graft.functions.BpeishTokensExpr].getName,
        "tokenize_bpeish"),
      (es: Seq[Expression]) => graft.functions.BpeishTokensExpr(es.head)),
    ("normalize_text",
      new ExpressionInfo(classOf[graft.functions.NormalizeTextExpr].getName,
        "normalize_text"),
      (es: Seq[Expression]) => graft.functions.NormalizeTextExpr(es.head)))

  /** Imperative form for an already-running session (same builders the
    * extensions path injects).
    */
  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, info, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(FunctionIdentifier(name), info, builder)
    }
}
