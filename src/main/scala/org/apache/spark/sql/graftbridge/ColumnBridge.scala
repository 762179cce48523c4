package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Column <-> Expression bridge. Spark 4 made the classic
 * `Column(expr: Expression)` constructor `private[sql]`
 * (`org.apache.spark.sql.classic.ExpressionUtils`), so third-party
 * native expressions need an accessor compiled inside the
 * `org.apache.spark.sql` package namespace — the same pattern public
 * Spark extension libraries use. This and [[TaskOutputBridge]] are the
 * only files outside the `graft` namespace; keep them free of any logic.
 */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
