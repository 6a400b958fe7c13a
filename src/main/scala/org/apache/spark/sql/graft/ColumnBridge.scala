package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.streaming.operators.stateful.StateStoreWriter
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.execution.streaming.state.{StateStore, StateStoreProviderId}
import org.apache.spark.sql.streaming.StreamingQuery

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
  def unloadStateStores(): Unit = StateStore.unloadAll()

  /** The state-store providers of `q`'s last micro-batch plan, one per
    * (stateful operator, partition, store name); empty when no batch was
    * planned. A batch that failed in planning leaves no plan to read. */
  def stateStores(q: StreamingQuery): Seq[StateStoreProviderId] = {
    val last = Option(q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution)
    last.flatMap(e => scala.util.Try(e.executedPlan).toOption).toSeq.flatMap(_.collect {
      case w: StateStoreWriter => for (p <- 0 until w.getStateInfo.numPartitions;
        n <- w.stateStoreNames) yield StateStoreProviderId(w.getStateInfo, p, n)
    }.flatten)
  }
}
