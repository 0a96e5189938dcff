package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * traced run drains it before reading what its listeners recorded. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
