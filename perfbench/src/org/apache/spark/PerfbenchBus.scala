package org.apache.spark

/** Waits until every posted listener event has been handled, so counters
  * read after a workload include its last jobs and queries.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
