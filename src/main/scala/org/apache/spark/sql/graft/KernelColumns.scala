package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}
import org.apache.spark.sql.internal.Literal

/** Column <-> Catalyst expression, for graft's native kernels: Spark 4
  * keeps this conversion inside the `org.apache.spark.sql` package. A
  * kernel built this way needs no function registered in the session,
  * so a session-free predicate (`TextOps.isEnglishPredicate`) can use
  * one in any session. */
object KernelColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** A literal converts at once, so a kernel's builder can read its value
    * (a width, a bit count); any other column converts when the Dataset
    * that holds it is built, as Spark's own Column functions do. */
  def expression(c: Column): Expression = c.node match {
    case l: Literal => ColumnNodeToExpressionConverter(l)
    case _ => ExpressionUtils.expression(c)
  }
}
