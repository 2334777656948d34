package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge to the `private[sql]` Column↔Expression converters —
  * the standard technique for third-party Catalyst expressions (the
  * public API intentionally hides Expression since Spark 4's ColumnNode
  * split) — plus the two hooks a custom LogicalPlan operator needs:
  * reading a Dataset's analyzed plan and wrapping a plan back into a
  * DataFrame (`Dataset.ofRows`, the same entry every internal DataFrame
  * construction uses), and the nullable schema a data-source table's
  * catalog entry stores. Nothing else from the private surface is
  * touched. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The analyzed logical plan of a (classic) Dataset — resolved
    * attributes with stable exprIds, the form a custom logical node's
    * constructor needs. */
  def analyzedPlan(df: Dataset[_]): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** Wrap a logical plan into a DataFrame through the full
    * analyze→optimize→plan pipeline (so injected planner strategies
    * see the node). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `schema` with every field, element and value nullable — what
    * `saveAsTable` stores for a file-source table. */
  def asNullable(schema: types.StructType): types.StructType = schema.asNullable
}
