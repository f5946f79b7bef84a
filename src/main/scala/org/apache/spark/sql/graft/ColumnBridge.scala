package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Expression, InSet, Literal}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.DataType

/** Bridge to the `private[sql]` Column <-> Expression converters — the
  * standard technique used by third-party Spark extension packages (the
  * converters themselves are stable across the 4.x classic API). */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `c IN keys` as one set-backed `InSet`: the key-set filter of the
    * dedup gate and the command dispatcher, whose keys the driver holds.
    * `isin` builds, resolves and plans one literal per key (0.1 ms a key
    * and more, measured at 2,700 keys); this builds one set. No keys is
    * `false`. `InSet` does no type coercion, so each scalar key is cast to
    * `keyType`, the type of `c` (a `Long` key never equals an `IntegerType`
    * value); a key that type cannot hold, which no row can match, is
    * dropped. A pair is a struct key whose fields already have the
    * struct's field types. */
  def inKeys(c: Column, keyType: DataType, keys: Iterable[Any]): Column =
    if (keys.isEmpty) lit(false)
    else column(InSet(expression(c), keys.flatMap {
      case (a, b) => Some(CatalystTypeConverters.convertToCatalyst(Row(a, b)))
      case k =>
        val l = Literal(k)
        Option(if (l.dataType == keyType) l.value else Cast(l, keyType, None, EvalMode.TRY).eval())
    }.toSet))
}
