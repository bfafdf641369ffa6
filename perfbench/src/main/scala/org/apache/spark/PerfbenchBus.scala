package org.apache.spark

/** The listener bus is private to Spark; the benchmark needs one call on
  * it: wait until listeners have seen every event posted so far, so counts
  * read after an operation are complete.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
