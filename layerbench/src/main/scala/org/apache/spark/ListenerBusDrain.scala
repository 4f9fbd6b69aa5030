package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * counts a listener holds are complete before they are read. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
