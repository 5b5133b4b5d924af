package org.apache.spark.sql.graft

import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** `ExpressionUtils` is private[sql]; this bridge (inside the sql package
  * namespace) exposes the two conversions custom Catalyst expressions need
  * to participate in the public Column API. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** `classic.Dataset.ofRows` is private[sql] too: it builds a DataFrame from
  * a logical plan in the given session, analysing it eagerly as `spark.sql`
  * does, without registering anything in the session catalog. */
object DatasetBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}

/** `AbstractDataType` (the type `ImplicitCastInputTypes.inputTypes` is
  * expressed in) is also private[sql] in Spark 4, so an expression outside
  * this namespace cannot override it. This mixin states the common
  * "two string inputs" contract from inside the bridge: NULL literals and
  * castable types are coerced by the analyzer, same as builtin string
  * functions. */
trait StringPairInputTypes
    extends org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  self: org.apache.spark.sql.catalyst.expressions.Expression =>
  override def inputTypes: Seq[org.apache.spark.sql.types.AbstractDataType] =
    Seq(org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.StringType)
}
