package org.apache.spark

/** Listener events are delivered asynchronously; a snapshot of the trace
  * listener is only complete once the bus has drained. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
