package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered, so counters read at a block boundary hold exactly the work
  * of the block. The listener bus is private to Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
