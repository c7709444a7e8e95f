package org.apache.spark

/** Access to the listener bus, which is private to Spark: a spec
  * drains it before reading what a listener counted. */
object GraftTestBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
