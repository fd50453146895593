package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * benchmark drains it before reading its listeners' per-pass totals. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
