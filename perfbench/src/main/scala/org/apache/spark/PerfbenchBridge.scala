package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private.
  * Waiting on the bus replaces fixed sleeps: once it returns, every event
  * posted before the call has reached every listener.
  */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
