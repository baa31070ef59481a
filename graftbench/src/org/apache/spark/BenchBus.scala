package org.apache.spark

/** Waits for the listener bus to deliver every posted event, so span
  * counters read after a job are complete. The bus is private to Spark;
  * this accessor lives in Spark's package for that reason only.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
