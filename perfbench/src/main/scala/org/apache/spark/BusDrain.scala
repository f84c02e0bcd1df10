package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * the benchmark's listener counts are complete when it reads them. The
  * bus is package-private to Spark, hence this one-line bridge. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
