package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Bridge to Spark's `private[sql]` Column ⇄ Expression converters, for
  * wiring custom Catalyst expressions ([[graft.functions.NativeExprs]])
  * into the public Column API. Lives in the `org.apache.spark.sql`
  * namespace solely to satisfy the access qualifier — the standard
  * pattern for out-of-tree Catalyst extensions. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `c` converted to a Catalyst expression tree now. [[expression]] may
    * instead wrap the column's node for conversion at analysis, and the
    * wrapper carries the call site, so two equal columns built at two
    * call sites would compare unequal. */
  def converted(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
}
