package org.apache.spark

/** The session's listener bus delivers events on its own thread; a caller
  * that counts events after an action waits for the bus first. The bus is
  * `private[spark]`. Minimal bridge for graft. */
object GraftListenerBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
