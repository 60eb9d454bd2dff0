package org.apache.spark

/** Drains the listener bus, which is `private[spark]`: the benchmark
  * calls it before reading its listeners, so every event posted so far
  * has been counted. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
