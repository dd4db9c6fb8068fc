package org.apache.spark

/** Listener events arrive asynchronously; a measurement read right after
  * a job ends must first wait for the bus to deliver them. The bus is
  * package-private, hence this file's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
