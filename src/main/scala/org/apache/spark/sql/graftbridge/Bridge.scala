package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column↔Expression bridge. Spark 4 moved the conversion to
  * `classic.ExpressionUtils`, which is `private[sql]` — this object lives in
  * the sql package solely to re-export the two converters that
  * `graft.functions.fns` needs to wrap Catalyst expressions (its kernels'
  * `StaticInvoke`s and `ArrayDot`) as Columns. No Spark internals are re-implemented here.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
