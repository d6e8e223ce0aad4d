package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so totals
  * read from a listener cover all work finished so far. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
