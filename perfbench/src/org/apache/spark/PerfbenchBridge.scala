package org.apache.spark

/** Access to the listener bus, which is private to Spark. */
object PerfbenchBridge {
  /** Block until every event posted so far has reached the listeners. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
