package org.apache.spark

/** Drains the listener bus, which is `private[spark]`: a spec calls it
  * before reading its own listener, so every event posted so far has
  * been delivered. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
