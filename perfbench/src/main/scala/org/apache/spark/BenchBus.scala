package org.apache.spark

/** Waits for Spark's listener bus to deliver every queued event, so the
  * benchmark's listener totals are complete before they are read. The bus
  * is package-private to Spark, hence this file's package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
