package org.apache.spark

/** Lets the benchmark wait until every posted listener event has been
  * delivered, so the trace is complete before it is read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
