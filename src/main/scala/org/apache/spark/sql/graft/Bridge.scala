package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Column <-> Expression bridge for custom Catalyst expressions.
  * `ExpressionUtils` is `private[sql]`, so the accessor lives in the sql
  * package hierarchy; everything else in graft uses this one indirection.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame over an RDD of Catalyst rows, with no external-Row
    * conversion either way (`internalCreateDataFrame` is `private[sql]`).
    * The rows must match `schema`. */
  def internalDataFrame(spark: SparkSession, rows: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)

  /** Register named SQL functions on a LIVE session — the runtime twin
    * of SparkSessionExtensions.injectFunction, which only applies at
    * session build time (spark.sql.extensions is a static conf). */
  def registerFunctions(
      spark: SparkSession,
      fns: Seq[(org.apache.spark.sql.catalyst.FunctionIdentifier,
        org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
        Seq[Expression] => Expression)]): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    fns.foreach { case (id, info, builder) =>
      registry.registerFunction(id, info, builder)
    }
  }
}
