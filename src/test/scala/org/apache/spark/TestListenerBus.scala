package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * a test's listener has seen every job that already ran. The bus is
  * package-private to Spark, hence this package.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
