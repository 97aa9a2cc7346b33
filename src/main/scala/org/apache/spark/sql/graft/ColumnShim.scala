package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between graft's native Catalyst expressions and the public
  * Column API. Spark 4's Column is implementation-agnostic (ColumnNode
  * based); wrapping a raw `Expression` requires the classic converter,
  * which is `private[sql]` — hence this one-file shim living under the
  * `org.apache.spark.sql` namespace (the standard technique for Spark
  * extension libraries that inject expressions without a session-level
  * function registration).
  */
object ColumnShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame over a raw LogicalPlan (for custom logical nodes planned
    * by an injected Strategy) — `Dataset.ofRows` is `private[sql]`.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** DataFrame over an RDD of Catalyst rows of `schema`, with no
    * conversion to or from external `Row`s — the session's
    * `internalCreateDataFrame` is `private[sql]`.
    */
  def internalCreateDataFrame(spark: org.apache.spark.sql.SparkSession,
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)
}
