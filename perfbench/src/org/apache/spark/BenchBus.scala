package org.apache.spark

/** Wait for Spark's listener bus to deliver every event posted so far, so
  * the benchmark's listener counts are complete when it reads them. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
