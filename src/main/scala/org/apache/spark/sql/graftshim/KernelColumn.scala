package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** A `Column` that carries its Catalyst expression, built from the
  * arguments' expressions — so it resolves in any session, with no
  * function-registry entry. Lives under `org.apache.spark.sql` for the
  * `private[sql]` Column ↔ Expression conversions, as [[DiskSnapshot]]
  * does for its internals. */
object KernelColumn {
  def apply(build: Seq[Expression] => Expression, args: Seq[Column]): Column =
    ExpressionUtils.column(build(args.map(ExpressionUtils.expression)))
}
