package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Bridge to the `private[sql]` session clone: same SparkContext, copied SQL conf. */
object SessionBridge {
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
}
