package org.apache.spark

/** Listener events are delivered asynchronously; block until every event
  * posted so far has reached the registered listeners. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
