package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into `private[sql]` members: the Column↔Expression
  * converters — the supported way for an extension library to register
  * custom Catalyst expressions as user-facing Columns without going
  * through the SQL function registry — and the session clone and
  * plan-to-frame constructor the pipeline uses to run a driver-held
  * batch under its own confs. Nothing else from spark internals is
  * accessed.
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A new session over `spark`'s context holding a copy of its session
    * state: runtime confs, temp views and registered
    * `QueryExecutionListener`s. Confs set on the copy stay on it. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** A frame of `spark` over an already-analyzed `plan`. */
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
