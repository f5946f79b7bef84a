package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Expression, InSet}
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the `private[sql]` Column <-> Expression converters — the
  * standard technique used by third-party Spark extension packages (the
  * converters themselves are stable across the 4.x classic API). */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `c IN values` as one set-backed `InSet`. `isin` builds, resolves and
    * plans one literal per value (0.1 ms a key and more, measured at 2,700
    * keys); this builds one set. No type coercion applies: each value must
    * be the external form of `c`'s type (a `Row` for a struct). */
  def inSet(c: Column, values: Iterable[Any]): Column =
    column(InSet(expression(c), values.map(CatalystTypeConverters.convertToCatalyst).toSet))
}
