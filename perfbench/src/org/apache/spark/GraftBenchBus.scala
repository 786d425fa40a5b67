package org.apache.spark

/** The listener bus drain is package-private to Spark; the per-layer
  * trace needs it so that every event of an op has been delivered before
  * the op's counters are read. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
