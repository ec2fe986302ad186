package org.apache.spark

/** The listener bus is private to Spark; the benchmark's traced run needs
  * one call on it: wait until every posted event has been delivered, so a
  * round's or a query's job and task metrics are complete when read.
  */
object PerfbenchBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
