package org.apache.spark.sql.graftshim

import org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes
import org.apache.spark.sql.types.{AbstractDataType, AnyDataType, DataType}

/** `ImplicitCastInputTypes` for an expression outside Spark's `sql`
  * package, which cannot name `AbstractDataType`: each child either
  * has a cast target (the analyzer inserts the implicit cast, as for
  * Spark's own numeric functions) or accepts any type, left to the
  * expression's own `checkInputDataTypes`. */
trait CastInputs extends ImplicitCastInputTypes {
  /** One entry per child: `Some(t)` to cast it to `t`, `None` to leave it. */
  protected def castTargets: Seq[Option[DataType]]

  override def inputTypes: Seq[AbstractDataType] =
    castTargets.map(_.getOrElse(AnyDataType))
}
