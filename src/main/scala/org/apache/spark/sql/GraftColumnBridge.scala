package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkStrategy

/** Column ↔ Expression / DataFrame ↔ LogicalPlan conversion for graft's
  * native expressions and plans. `classic.ExpressionUtils` and
  * `classic.Dataset.ofRows` are private[sql] in Spark 4, so the bridge lives
  * in the org.apache.spark.sql package — the standard pattern for libraries
  * that ship custom Catalyst expressions/operators.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** DataFrame over an (already resolved) logical plan. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed plan behind a frame (attribute-stable child for custom
    * logical nodes). */
  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  /** Idempotent per-session planner-strategy registration (the imperative
    * twin of SparkSessionExtensions.injectPlannerStrategy, so it reaches
    * any session, including ones graft does not build). */
  def installStrategy(spark: SparkSession, s: SparkStrategy): Unit = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    if (!cs.experimental.extraStrategies.contains(s))
      cs.experimental.extraStrategies = s +: cs.experimental.extraStrategies
  }

  /** Same for optimizer rules (twin of injectOptimizerRule). */
  def installOptimization(spark: SparkSession,
      r: org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]): Unit = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    if (!cs.experimental.extraOptimizations.contains(r))
      cs.experimental.extraOptimizations = r +: cs.experimental.extraOptimizations
  }
}
