package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** graft's one bridge into `private[sql]`: Spark 4 made the classic
  * Column ⇄ Expression converters (`classic.ExpressionUtils`) private[sql],
  * and this package-scoped forwarder lets graft build a `Column` over its
  * own Catalyst expressions (codegen'd vector and text-hash ops) without
  * a UDF. */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** DataFrame over a raw logical plan (classic.Dataset.ofRows is
    * private[sql]); used to analyze UDTF bodies at creation time. */
  def ofRows(spark: SparkSession,
      plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
