package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 made the Column ↔ catalyst Expression bridge `private[sql]`;
  * this shim (in an org.apache.spark.sql subpackage, the usual technique
  * for Spark extension libraries) re-exports just the two converters the
  * graft function surface needs.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
