package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * that listener counters read after a pass are complete. The bus is
  * package-private to Spark, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
