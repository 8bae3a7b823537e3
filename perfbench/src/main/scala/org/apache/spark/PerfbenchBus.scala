package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered, so per-layer numbers are read only after the listeners have
  * seen the whole measured span. `listenerBus` is package-private to Spark. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
