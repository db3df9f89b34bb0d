package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` classic Column↔Expression
  * converters — the standard extension-library shim for exposing
  * custom Catalyst expressions as user-facing Columns in Spark 4
  * (the public `Column(expr)` constructor was removed with the
  * Connect-compatible Column API).
  */
object GraftShim {
  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** Eager conversion — the default wrapper defers via a non-
    * serializable ColumnNode, which breaks closures that capture the
    * expression (e.g. custom physical operators). */
  def eagerExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  def logicalPlan(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].logicalPlan

  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The operator scopes of a stage's RDDs (`Exchange`,
    * `WholeStageCodegen (3)`, ...), upstream first; the scope type is
    * `private[spark]`. */
  def stageScopes(info: org.apache.spark.scheduler.StageInfo): Seq[String] =
    info.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name.trim)).distinct
}
