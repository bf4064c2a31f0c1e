package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Bridge to the `private[sql]` factory of a DataFrame over an RDD of
  * Catalyst rows: the plan scans `rows` as they are, with no encoder, and
  * its scan projects them to `UnsafeRow`s. Each row must match `schema`,
  * including its nullability.
  */
object DataFrameBridge {
  def fromInternalRows(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)
}
