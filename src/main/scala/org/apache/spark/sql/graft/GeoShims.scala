package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.types.{AbstractDataType, BinaryType, DoubleType}

/** Input-type declarations for external expressions: the
  * `ExpectsInputTypes.inputTypes` signature names the private[sql]
  * `AbstractDataType`, so traits that override it must live inside
  * the sql package — graft.ops.GeoExprs mixes these in.
  */
trait AllBinaryInputs extends ExpectsInputTypes { self: Expression =>
  override def inputTypes: Seq[AbstractDataType] =
    children.map(_ => BinaryType: AbstractDataType)
}

/** (double, double) with the standard numeric implicit casts. */
trait TwoDoubleInputs extends ImplicitCastInputTypes { self: Expression =>
  override def inputTypes: Seq[AbstractDataType] =
    Seq(DoubleType, DoubleType)
}

object ColumnExprShim {
  /** Column -> underlying Catalyst Expression (classic-module API). */
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)
}
