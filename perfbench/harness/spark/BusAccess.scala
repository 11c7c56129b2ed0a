package org.apache.spark

/** The listener bus is private to Spark; the traced run needs to drain
  * it so that every event of an op is counted before the op's layer
  * figures are read. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
