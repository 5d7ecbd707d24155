package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * profile's counters are complete before a measured scope closes. The bus
  * is private to Spark, hence this shim in Spark's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
