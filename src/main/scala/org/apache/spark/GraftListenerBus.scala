package org.apache.spark

/** Listener-bus access for [[graft.Metrics]]. The bus is
  * package-private, hence this file's package.
  */
object GraftListenerBus {

  /** Blocks until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
