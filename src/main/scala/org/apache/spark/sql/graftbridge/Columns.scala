package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** The one way graft turns a Catalyst [[Expression]] into a [[Column]]
  * and back. Spark 4 keeps both conversions `private[sql]`, so this
  * bridge lives in a package under `org.apache.spark.sql` (the same
  * pattern as `org.apache.spark.ml.classification.LinearModels`). A
  * Column built here carries its expression directly: nothing is
  * registered in, or resolved through, a session's function registry. */
object Columns {
  def of(e: Expression): Column = ExpressionUtils.column(e)
  def expr(c: Column): Expression = ExpressionUtils.expression(c)
}
