package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Catalyst expression, for graft's native kernels: Spark 4
  * keeps this conversion inside the `org.apache.spark.sql` package. A
  * kernel built this way needs no function registered in the session,
  * so a session-free predicate (`TextOps.isEnglishPredicate`) can use
  * one in any session. */
object KernelColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
