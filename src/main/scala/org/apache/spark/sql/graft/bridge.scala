package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SparkStrategy

/** Column <-> Expression / Dataset <-> LogicalPlan bridge. In Spark 4 the
  * public `Column` carries a ColumnNode rather than a Catalyst Expression;
  * the converters live in `org.apache.spark.sql.classic.ExpressionUtils`,
  * which is private[sql] — so this one-file shim is compiled into the sql
  * package namespace (the conventional pattern for Catalyst-extending
  * libraries).
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Convert a Column's node tree into a CATALYST expression tree
    * (UnresolvedFunction nodes and all), the same conversion the Dataset
    * API applies during analysis. Needed by SQL FunctionBuilders that
    * delegate to Column-API constructions: [[expression]]'s lazy
    * `ColumnNodeExpression` wrapper is opaque to the analyzer in that
    * position (codegen later fails with INTERNAL_ERROR), while this
    * eager form re-enters normal function resolution.
    */
  def catalystExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Wrap a (resolved) logical plan as a DataFrame. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The schema a file-source write persists and a read returns: every
    * field, nested ones included, nullable (`asNullable` is private[spark]).
    */
  def asNullable(s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    s.asNullable

  /** Analyzed logical plan of a frame. */
  def analyzed(df: Dataset[_]): LogicalPlan = df.queryExecution.analyzed

  /** Idempotently add a planner strategy to the session (runtime-settable
    * counterpart of SparkSessionExtensions.injectPlannerStrategy — works on
    * sessions the caller did not build).
    */
  def ensureStrategy(spark: SparkSession, s: SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(s)) {
      exp.extraStrategies = exp.extraStrategies :+ s
    }
  }
}
