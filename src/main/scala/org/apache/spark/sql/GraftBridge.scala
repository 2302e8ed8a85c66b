package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into `private[sql]` conversions the extension API does
  * not expose: a Column's catalyst expression and back, and the classic
  * session behind the public one. This is the standard third-party-extension
  * technique (a one-object file in the org.apache.spark.sql package);
  * everything else in graft uses public API.
  */
object GraftBridge {
  def expression(c: Column): Expression = classic.ColumnConversions.expression(c)

  def column(e: Expression): Column = {
    import classic.ClassicConversions._
    Column(e)
  }

  def classicSession(spark: SparkSession): classic.SparkSession =
    spark.asInstanceOf[classic.SparkSession]
}
