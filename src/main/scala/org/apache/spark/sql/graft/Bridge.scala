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
  * and the awaitable tag cancel [[graft.Stages]] drains with.
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
}
