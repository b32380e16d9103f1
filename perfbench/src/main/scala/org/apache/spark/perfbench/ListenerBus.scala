package org.apache.spark.perfbench

import org.apache.spark.sql.SparkSession

/** Listener events are delivered asynchronously; the traced replay
  * reads its counters only after the bus has delivered every event of
  * the statement. The bus is Spark-internal, hence this package. */
object ListenerBus {
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
