package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge, and the other Spark-private members
  * graft needs.
  *
  * Spark 4 made the Column/Expression conversion `private[sql]`
  * (columnNodeSupport.scala); custom Catalyst expressions still need
  * it, so this one-file subpackage exposes it, the plan round-trip,
  * the awaitable tag cancel [[graft.Stages]] drains with, and the two
  * listener-side members [[graft.Profile]] reads.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def logicalPlan(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A tag cancel whose future completes once the scheduler has run it. */
  def cancelJobsWithTag(sc: SparkContext, tag: String,
      reason: String): scala.concurrent.Future[Unit] =
    sc.cancelJobsWithTagWithFuture(tag, reason)
      .map(_ => ())(scala.concurrent.ExecutionContext.parasitic)

  /** Blocks until every event posted so far has reached every listener. */
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The query execution an execution-end event describes (null when
    * the event came from the event log, not a live session).
    */
  def queryExecution(e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd)
      : org.apache.spark.sql.execution.QueryExecution = e.qe
}
