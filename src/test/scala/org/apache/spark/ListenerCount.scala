package org.apache.spark

/** Listeners attached to a context's bus, for specs that check a
  * listener was detached. The bus is package-private, hence this
  * file's package.
  */
object ListenerCount {
  def apply(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
