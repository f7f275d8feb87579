package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into Spark's `private[sql]` Column ↔ Expression conversion
  * (Spark 4 routes Column through ColumnNode; `classic.ExpressionUtils` is the
  * supported classic-session path, but is package-private). Standard extension
  * -library shim: lives in the org.apache.spark.sql package solely to export
  * these private[sql] entry points to the graft library. */
object shims {
  /** `AbstractDataType` is private[sql] in Spark 4; exported so graft's
    * native expressions can declare `inputTypes` contracts. */
  type AbsType = org.apache.spark.sql.types.AbstractDataType

  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a (resolved) logical plan as a DataFrame
    * (`classic.Dataset.ofRows` is private[sql]). */
  def dfFromPlan(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Runtime registration of a native Catalyst function (the non-extensions
    * path; `FunctionRegistry.createOrReplaceTempFunction` is private[sql]). */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** A child session carrying a COPY of this session's runtime confs, temp
    * views and functions (`cloneSession` is private[sql]; `newSession`
    * starts from the builder confs only). */
  def cloneSession(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
}
