package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Bridge to the `private[spark]` listener bus. */
object ListenerBusBridge {
  /** Wait until every listener event posted so far has been delivered. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
