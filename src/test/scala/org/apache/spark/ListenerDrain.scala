package org.apache.spark

/** Test access to the listener bus: block until every posted event has
  * reached the listeners, so a listener's record of a finished action
  * is complete. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
