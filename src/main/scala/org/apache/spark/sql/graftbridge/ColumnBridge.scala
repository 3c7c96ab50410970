package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed the public `Column(Expression)` constructor; the
  * supported bridge lives in `classic.ExpressionUtils`, visible only
  * inside the `org.apache.spark.sql` namespace — hence this one-file
  * shim package. Lets graft expose custom Catalyst expressions as
  * Columns without registry round-trips.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Same-namespace bridge for plan-level extension points (custom
  * logical operators need `Dataset.ofRows` and the analyzed plan,
  * both `private[sql]` in Spark 4).
  */
object PlanBridge {
  import org.apache.spark.sql.{DataFrame, Row, SparkSession}
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
      .queryExecution.analyzed

  /** Idempotently prepend a planner strategy on an already-built
    * session — for sessions built without `GraftExtensions`.
    */
  def install(spark: SparkSession,
      strategy: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .experimental
    if (!exp.extraStrategies.contains(strategy))
      exp.extraStrategies = strategy +: exp.extraStrategies
  }
}
