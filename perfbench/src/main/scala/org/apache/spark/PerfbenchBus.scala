package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered, so the traced run's stage ledger is complete before it is
  * read. `listenerBus` is package-private to Spark. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
