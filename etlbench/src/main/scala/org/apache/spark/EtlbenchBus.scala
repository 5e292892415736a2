package org.apache.spark

/** The listener bus is package-private; the tracer needs every event
  * delivered before it aggregates. */
object EtlbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
