package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ⇄ Expression bridge. Spark 4 made the classic converters
  * `private[sql]`, so the kernel calls of graft.functions (Catalyst
  * `StaticInvoke` nodes) go through this one-liner living inside the sql
  * package. No Spark internals are reimplemented here.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
