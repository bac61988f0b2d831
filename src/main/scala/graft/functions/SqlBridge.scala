package org.apache.spark.sql
package graftbridge

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's classic Column↔Expression converters, which are
  * `private[sql]` in Spark 4.x (the Column API wraps ColumnNodes since the
  * Connect refactor). Lives in the org.apache.spark.sql namespace purely to
  * satisfy the access qualifier — standard pattern for libraries shipping
  * custom Catalyst expressions against Spark 4. */
object Bridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
