package org.apache.spark

/** Waits until every event posted so far has reached the listeners.
  *
  * Listener events arrive asynchronously; the traced run drains the bus
  * after each operation so that every job, task and streaming progress
  * event is attributed to the operation that caused it. Spark exposes the
  * drain only inside its own package, hence this one-line bridge.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
