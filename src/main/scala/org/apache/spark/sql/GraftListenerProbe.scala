package org.apache.spark.sql

/** Bridge into the `private[spark]` listener bus: listener events (job
  * starts and ends, `QueryExecutionListener` callbacks) are delivered
  * asynchronously, so a test or tool counting them must first wait until
  * every event posted so far has been handled. */
object GraftListenerProbe {
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
