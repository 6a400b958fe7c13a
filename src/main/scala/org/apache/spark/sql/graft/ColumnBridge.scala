package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` APIs (Spark 4 wraps Columns around
  * ColumnNode, not Expression; DataFrame construction from a LogicalPlan is
  * package-private). Same pattern every Spark extension library uses: a tiny
  * shim compiled into the org.apache.spark.sql namespace.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Analyzed logical plan of a (classic) DataFrame. */
  def planOf(df: DataFrame): LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
      .queryExecution.analyzed

  /** DataFrame over a custom LogicalPlan. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `AbstractDataType` / `TypeCollection` are private[sql]; expose them so
    * expressions outside the sql package can declare `inputTypes` (the
    * analysis-time type contract ExpectsInputTypes enforces).
    */
  type AbstractType = org.apache.spark.sql.types.AbstractDataType
  def typeCollection(ts: AbstractType*): AbstractType =
    org.apache.spark.sql.types.TypeCollection(ts: _*)

  /** Closes every state-store provider loaded in this JVM. */
  def unloadStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.unloadAll()
}
