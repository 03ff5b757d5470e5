package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Spark 4 moved Column internals behind `private[sql]`
  * ExpressionUtils; this bridge (compiled inside the sql package
  * namespace) exposes the two conversions our custom Catalyst
  * expressions need, and the internal-row DataFrame constructor
  * `Frame` appends `_idx` through. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over rows already in Catalyst's internal format, with
    * no external-`Row` conversion (the `private[sql]` twin of
    * `createDataFrame(RDD[Row], schema)`). */
  def internalCreateDataFrame(spark: SparkSession, rows: RDD[InternalRow],
                              schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)
}
