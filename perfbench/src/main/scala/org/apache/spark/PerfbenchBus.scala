package org.apache.spark

/** Waits for Spark's listener bus to deliver every queued event, so a
  * traced run's job and task counters are complete before analysis.
  * The bus is package-private to Spark, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
