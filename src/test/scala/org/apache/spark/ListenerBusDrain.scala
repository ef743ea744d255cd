package org.apache.spark

/** Test access to the `private[spark]` listener bus: wait until every event
  * posted so far has reached the listeners.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
