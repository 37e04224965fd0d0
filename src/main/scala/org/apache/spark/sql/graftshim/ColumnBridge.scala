package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Expression <-> Column bridge. Spark 4 made these conversions
  * private[sql]; libraries adding native Catalyst expressions host a shim
  * in an org.apache.spark.sql subpackage (the established extension
  * pattern) to reach them.
  */
object ColumnBridge {
  def column(e: Expression): Column    = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Runtime SQL-function registration (the session-creation-time path is
    * graft.GraftExtensions via spark.sql.extensions).
    */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** `df`'s logical plan as a frame of `session`: the same rows, analysed,
    * optimised and planned under `session`'s settings, with nothing
    * collected. The sessions must share one SparkContext.
    */
  def rehome(df: org.apache.spark.sql.DataFrame,
             session: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame =
    if (df.sparkSession eq session) df
    else org.apache.spark.sql.classic.Dataset.ofRows(
      session.asInstanceOf[org.apache.spark.sql.classic.SparkSession], df.queryExecution.logical)
}
