package org.apache.spark

/** The listener bus is package-private; specs that count the jobs a call
  * launches wait until every event posted so far has been delivered. */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
