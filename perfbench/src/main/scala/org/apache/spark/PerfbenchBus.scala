package org.apache.spark

/** Listener-bus drain for the benchmark's tracer. Spark delivers listener
  * events asynchronously; the tracer must see every event of a phase before
  * it reads its counters, and `waitUntilEmpty` is package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
