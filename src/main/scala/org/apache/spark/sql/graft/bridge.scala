package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Column ⇄ Expression bridge for custom Catalyst expressions, and
  * `StructType.asNullable`. `ExpressionUtils` is `private[sql]` in Spark 4,
  * so this lives in the spark.sql package tree — the standard
  * extension-library pattern. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  /** `s` with every field, nested ones included, nullable: the schema a
    * file-source read reports (`asNullable` is `private[spark]`). */
  def asNullable(s: StructType): StructType = s.asNullable
}
