package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge to the classic Column <-> Expression converters, which are
  * `private[sql]` in Spark 4 (the Column API became connect-agnostic).
  * Lives under org.apache.spark.sql so the access modifier admits it —
  * standard practice for libraries shipping custom Catalyst expressions.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Same deal for Dataset <-> LogicalPlan (custom logical operators). */
object PlanBridge {
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  import org.apache.spark.sql.{DataFrame, SparkSession}

  def logicalPlan(df: DataFrame): LogicalPlan =
    df.queryExecution.analyzed

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The frame's optimized plan, planned and prepared the way a subquery
    * is (`QueryExecution.prepareExecutedPlan`): no adaptive execution,
    * so the exchanges are final as planned and `execute()` on the result
    * builds the RDD without running a job. */
  def prepareWithoutAqe(df: DataFrame): (org.apache.spark.sql.execution.SparkPlan,
      org.apache.spark.sql.catalyst.plans.logical.Statistics) = {
    val optimized = df.queryExecution.optimizedPlan
    (org.apache.spark.sql.execution.QueryExecution.prepareExecutedPlan(
      df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      optimized), optimized.stats)
  }

  /** `body` with `spark` as the active session, whose conf planning and
    * code generation read. */
  def withActive[T](spark: SparkSession)(body: => T): T = spark.withActive(body)
}
