package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Same-package accessor for the package-private classic Dataset factory —
  * the standard mechanism Spark extension libraries use to materialize a
  * custom LogicalPlan as a public DataFrame (classic.Dataset.ofRows is
  * private[sql] in Spark 4).
  */
object GraftSqlShims {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Column from a catalyst Expression (ExpressionUtils is private[sql]). */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** Catalyst Expression behind a (classic) Column. */
  def expression(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)
}

/** `ImplicitCastInputTypes` (and `AbstractDataType` in its signature) is
  * private[sql] in Spark 4, so graft expressions can't implement declared
  * input coercion directly. These same-package traits re-export the
  * mechanism for the fixed signatures graft needs: mixing one in makes the
  * analyzer INSERT implicit casts (int/long/float/decimal → double, etc.)
  * and fail analysis — not runtime — on genuinely incompatible inputs.
  * (`ExpectsInputTypes` alone only validates; the Cast-inserting rule,
  * ImplicitTypeCasts, keys on the ImplicitCastInputTypes subtrait.)
  */
trait GraftExpectsDouble
    extends org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.types.AbstractDataType] =
    Seq(org.apache.spark.sql.types.DoubleType)
}

trait GraftExpectsBinary
    extends org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.types.AbstractDataType] =
    Seq(org.apache.spark.sql.types.BinaryType)
}

trait GraftExpectsBinaryDouble
    extends org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.types.AbstractDataType] =
    Seq(org.apache.spark.sql.types.BinaryType,
      org.apache.spark.sql.types.DoubleType)
}

/** Validation only, no implicit cast: a long or int input, anything else
  * fails analysis (a string key must not be cast to a number silently).
  */
trait GraftExpectsLongOrInt
    extends org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.types.AbstractDataType] =
    Seq(org.apache.spark.sql.types.TypeCollection(
      org.apache.spark.sql.types.LongType, org.apache.spark.sql.types.IntegerType))
}
