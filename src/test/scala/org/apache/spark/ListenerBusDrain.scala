package org.apache.spark

/** `listenerBus` is private[spark]: this lets a test wait until every event
  * posted so far, query-execution callbacks included, has been delivered. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
