package org.apache.spark

/** The listener bus is private to Spark; the tracer needs to wait until
  * it has delivered every event before it reads its counters.
  */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
