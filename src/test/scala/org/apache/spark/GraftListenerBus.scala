package org.apache.spark

/** Test shim for the `private[spark]` listener bus of a SparkContext. */
object GraftListenerBus {
  /** Block until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
