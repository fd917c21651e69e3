package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far has
  * been delivered (the bus is asynchronous and `waitUntilEmpty` is
  * package-private), so per-operation layer counters are read whole.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
