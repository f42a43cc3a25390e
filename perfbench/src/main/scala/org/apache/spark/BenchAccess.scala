package org.apache.spark

/** The listener bus drain is package-private to Spark; the benchmark
  * needs it so span counters are complete before they are read. */
object BenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
