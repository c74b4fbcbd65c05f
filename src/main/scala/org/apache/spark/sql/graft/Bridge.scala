package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Minimal `private[spark]` bridge: Column ⇄ Catalyst Expression, and a
  * schema's all-nullable form (the schema Spark writes to a file).
  * Spark keeps these package-private; extension libraries shipping
  * native expressions conventionally expose them from a tiny shim inside
  * the `org.apache.spark.sql` namespace (cf. frameless, spark-excel).
  * Nothing else of Spark's internals is touched. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def asNullable(s: StructType): StructType = s.asNullable
}
