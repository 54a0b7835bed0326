package org.apache.spark

/** The listener bus is package-private; the tracer needs to wait until the
  * events of a finished span have been delivered before it reads them. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
