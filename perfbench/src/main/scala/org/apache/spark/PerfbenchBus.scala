package org.apache.spark

/** Waits until the listener bus has delivered every event posted so
  * far. The bus is package-private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
