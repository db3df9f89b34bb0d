package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.util.sketch.BloomFilter

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

  /** `bloom_filter_agg` of the long column `c` — the aggregate
    * `stat.bloomFilter` runs — and the empty filter that aggregate
    * starts from: same bit size and hash count as every filter it
    * builds (both clamped by the runtime bloom-filter confs), so the
    * two merge. The aggregate's result is null for no input rows. */
  def bloomFilterAgg(c: Column, expectedItems: Long,
                     numBits: Long): (Column, () => BloomFilter) = {
    val agg = new BloomFilterAggregate(expression(c),
      Literal(expectedItems), Literal(numBits))
    (column(agg.toAggregateExpression()), () => agg.createAggregationBuffer())
  }

  /** The operator scopes of a stage's RDDs (`Exchange`,
    * `WholeStageCodegen (3)`, ...), upstream first; the scope type is
    * `private[spark]`. */
  def stageScopes(info: org.apache.spark.scheduler.StageInfo): Seq[String] =
    info.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name.trim)).distinct
}
