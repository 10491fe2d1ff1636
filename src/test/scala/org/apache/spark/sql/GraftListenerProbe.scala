package org.apache.spark.sql

/** Test-side bridge into the `private[spark]` listener bus: listener
  * events (job ends, `QueryExecutionListener` callbacks) are delivered
  * asynchronously, so a test counting them must first wait until every
  * event posted so far has been handled. */
object GraftListenerProbe {
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
