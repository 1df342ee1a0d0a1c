package org.apache.spark

/** Lets the benchmark's traced run wait until every queued listener event
  * has been delivered, so an op's metrics are complete before they are read.
  * The listener bus is package-private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
