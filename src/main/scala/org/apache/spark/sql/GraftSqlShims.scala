package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into `private[sql]` plan construction for the engine's custom
  * logical operators (SURVEY.md §7.4 tier (c)): building a DataFrame
  * from a custom LogicalPlan requires `Dataset.ofRows`, which Spark
  * scopes to its own package — the standard extension-project shim. */
object GraftSqlShims {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Column → fully-converted catalyst Expression (Spark 4 wraps Columns
    * in ColumnNodes; `ExpressionUtils.expression` only wraps lazily in a
    * non-serializable ColumnNodeExpression — the session's converter
    * produces the real catalyst tree). */
  def expr(spark: SparkSession, c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    spark.asInstanceOf[classic.SparkSession].expression(c)

  /** The session's `spark.sql.autoBroadcastJoinThreshold` in bytes, read
    * as Spark's planner reads it (a negative value disables broadcast). */
  def broadcastThreshold(spark: SparkSession): Long =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf.autoBroadcastJoinThreshold

  /** Session-less bridges for PURE Column helpers (e.g. TextOps.md5Long)
    * that wrap a custom Expression around an arbitrary caller Column:
    * `exprOf` wraps the Column's node lazily (ColumnNodeExpression) and
    * the analyzer's converter resolves it when the enclosing query
    * plans — fine for expression trees, NOT for code that needs the
    * converted catalyst tree immediately (use [[expr]] there). */
  def columnOf(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)
  def exprOf(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Spark's own float normalization (-0.0 → 0.0, canonical NaN),
    * applied by the optimizer to Aggregate/Window/Join keys but NOT to
    * custom logical nodes — custom grouping operators (TopKPerGroup)
    * must normalize their own keys or 0.0/-0.0 split into two groups. */
  def normalizeFloats(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    // normalize() no-ops internally on types that need no normalization
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)
}
