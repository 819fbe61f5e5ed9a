package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge for wrapping a custom Catalyst [[Expression]] in a user-facing
  * [[Column]] (and back) — `classic.ExpressionUtils` is `private[sql]` in
  * Spark 4, so the graft expressions (VecFoldExpression) route through this
  * shim, same pattern as registering TokenizeExpression via extensions.
  */
object GraftColumn {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Build a DataFrame from an InternalRow RDD without the external-Row
    * encoder round-trip (`SparkSession.internalCreateDataFrame` is
    * `private[sql]`) — used by DocIds.assign, whose RDD-level hop otherwise
    * paid decode → Seq append → re-encode per row of the whole corpus.
    */
  def internalCreateDataFrame(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)

  /** A DataFrame over a logical plan (`Dataset.ofRows` is `private[sql]`):
    * the frame of a segment query's own leaf node.
    */
  def ofRows(spark: SparkSession, plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
