package org.apache.spark

/** Waits until the listener bus has delivered every posted event; the bus
  * is package-private, hence this object's package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
