package org.apache.spark

/** The listener bus is package-private; the traced run drains it before
  * reading its listeners so no job or task event is lost. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
