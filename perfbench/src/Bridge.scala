package org.apache.spark

/** The listener bus drain is `private[spark]`; the trace needs it to read
  * counters only after every queued event has been delivered. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
