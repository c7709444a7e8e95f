package org.apache.spark

/** Access to the listener bus, which is private to Spark: the traced
  * mode drains it after each call so the counters it reads belong to
  * that call. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
