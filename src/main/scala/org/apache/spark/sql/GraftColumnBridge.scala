package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column↔Expression converters of the
  * classic (non-Connect) API — the sanctioned pattern for libraries that
  * ship custom Catalyst expressions against Spark 4's Column facade.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** DataFrame from a raw LogicalPlan (classic Dataset.ofRows is
    * private[sql]) — needed to surface custom logical operators. */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The session's SQL parser (classic sessionState). */
  def sqlParser(spark: SparkSession): org.apache.spark.sql.catalyst.parser.ParserInterface =
    spark.asInstanceOf[classic.SparkSession].sessionState.sqlParser

  /** DataFrame over an RDD of Catalyst rows of `schema`, without converting
    * them (classic internalCreateDataFrame is private[sql]). */
  def internalFrame(spark: SparkSession,
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
