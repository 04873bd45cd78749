package org.apache.spark

/** Listener events are delivered asynchronously; what a test listener has
  * seen is only complete once the bus has drained. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
