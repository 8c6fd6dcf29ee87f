package org.apache.spark

/** Lets the benchmark wait until every posted listener event has been
  * delivered, so per-window counters are complete when they are summed. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
