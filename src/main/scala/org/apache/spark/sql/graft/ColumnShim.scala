package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionColumnNode

/** A Catalyst expression as a `Column`. Spark 4 keeps that conversion
  * inside `org.apache.spark.sql`; engine-defined expressions that are
  * not registered session functions (the staging write's range
  * aggregate) go through this one shim. */
object ColumnShim {
  def of(e: Expression): Column = new Column(ExpressionColumnNode(e))
}
