package org.apache.spark

/** The listener bus's drain is package-private to Spark; the benchmark
  * needs it so that every event of a pass is counted before the pass's
  * counters are read, and so that queued events do not count as live
  * heap.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
