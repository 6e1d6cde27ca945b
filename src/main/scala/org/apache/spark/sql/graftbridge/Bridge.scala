package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression bridge. Spark 4 routes Column through
  * ColumnNode and keeps the converters private[sql], so extension
  * libraries shipping native expressions need this one-file subpackage
  * (the same pattern Delta/Frameless-style libraries use).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eagerly-converted catalyst expression (ExpressionUtils.expression
    * returns a lazy ColumnNodeExpression wrapper, which is fine inside
    * standard operators but not serializable inside custom plan nodes).
    */
  def catalystExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** DataFrame from a (possibly custom) logical plan — runs the full
    * analyze/optimize/plan pipeline over it.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The logical plan backing a DataFrame. */
  def logicalPlan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.DataFrame].queryExecution.logical

  /** The ANALYZED plan backing a DataFrame. Custom plan nodes built
    * from dataset-bound columns (`df("c")`) must wrap this one: the
    * unanalyzed plan still contains unresolved aliases (e.g. from
    * `toDF`) that re-analysis would re-alias under FRESH exprIds,
    * orphaning the node's already-bound attribute references.
    */
  def analyzedPlan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.DataFrame].queryExecution.analyzed

  /** Float/double normalization (-0.0 → 0.0, canonical NaN bits) for
    * expressions used as GROUPING or JOIN keys in custom plan nodes.
    * Spark's NormalizeFloatingNumbers rule does this for built-in
    * aggregates/joins/windows but never sees custom nodes, whose
    * byte-wise UnsafeRow comparisons would otherwise treat -0.0 and
    * 0.0 as different keys. No-op for non-floating types.
    */
  def normalizeFloats(e: Expression): Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** Drop a session temp view by name only. `Catalog.dropTempView`
    * also uncaches every cached plan equal to the view's, and plan
    * equality erases alias names: dropping a view that exposes or
    * merely renames a caller's persisted frame unpersists that frame.
    */
  def dropTempViewOnly(spark: org.apache.spark.sql.SparkSession,
      name: String): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalog.dropTempView(name)

  /** Register a SQL function into an EXISTING session's registry
    * (sessionState is private[sql]). The SparkSessionExtensions path
    * only applies at session build time; this covers sessions created
    * without it.
    */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(name, info, builder)
}
