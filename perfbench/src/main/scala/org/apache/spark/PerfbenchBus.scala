package org.apache.spark

/** Lives in Spark's package only to reach the listener bus, which Spark
  * keeps package-private: the benchmark drains it before reading any
  * listener-fed counter, so no event of a finished statement is still
  * queued when the counters are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
