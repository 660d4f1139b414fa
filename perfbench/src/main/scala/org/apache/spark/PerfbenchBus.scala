package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered, so the per-layer counters of a round are complete before they
  * are read. The listener bus is package-private to Spark. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
