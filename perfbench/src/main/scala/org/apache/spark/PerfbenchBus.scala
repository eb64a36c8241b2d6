package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * traced run can attribute events to the query that caused them. The
  * bus is package-private; this is the benchmark's only use of it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
