package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered, so task counters are complete before they are read. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
