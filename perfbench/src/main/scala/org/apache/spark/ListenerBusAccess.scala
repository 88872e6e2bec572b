package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run waits
  * for it to drain before reading its listener's totals. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
