package org.apache.spark

/** The listener bus is private to Spark; the benchmark drains it before it
  * reads the counters its listeners kept.
  */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
