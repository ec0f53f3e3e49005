package org.apache.spark

/** Blocks until the listener bus has delivered every posted event, so a
  * listener's counters are complete when a span is read. The bus is
  * package-private, hence this file's package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
