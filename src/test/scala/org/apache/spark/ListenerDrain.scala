package org.apache.spark

/** Test access to the listener bus: block until every posted event has
  * reached the listeners, so a count a listener keeps is final once an
  * action has returned. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
