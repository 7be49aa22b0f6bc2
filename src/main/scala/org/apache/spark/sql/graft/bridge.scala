package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Minimal bridge into `private[sql]` members: the Column↔Expression
  * converters — the supported way for an extension library to register
  * custom Catalyst expressions as user-facing Columns without going
  * through the SQL function registry — and the session clone,
  * plan-to-frame constructor, row collect and session confs the
  * pipeline uses to run and write a driver-held batch. Nothing else
  * from spark internals is accessed.
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

  /** `df`'s optimized schema and its rows as Catalyst rows. The executed
    * plan is collected as one SQL execution named `collect`, so the
    * session's `QueryExecutionListener`s, and the `Observation`s they
    * complete, see it as they see `Dataset.collect`; the rows are not
    * converted to `Row`s. */
  def collectInternal(df: DataFrame): (StructType, Array[InternalRow]) = {
    val qe = df.asInstanceOf[classic.Dataset[_]].queryExecution
    (qe.optimizedPlan.schema,
      SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect()))
  }

  /** A new copy of the Hadoop conf `spark`'s file writes run on: the
    * context's conf with the session's SQL confs set over it. */
  def hadoopConf(spark: SparkSession): Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()

  /** Runs `body` with `spark`'s SQL conf as the thread's `SQLConf.get`. */
  def withSqlConf[T](spark: SparkSession)(body: => T): T =
    SQLConf.withExistingConf(spark.asInstanceOf[classic.SparkSession].sessionState.conf)(body)
}
