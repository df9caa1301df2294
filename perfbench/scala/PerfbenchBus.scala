package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * a traced leg's counters are complete before they are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
