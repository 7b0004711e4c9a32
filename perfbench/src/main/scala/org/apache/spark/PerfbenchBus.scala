package org.apache.spark

/** Lets the benchmark wait for Spark's listener bus to deliver every
  * posted event before it reads its listener's counters. The bus is
  * package-private, hence this file's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
