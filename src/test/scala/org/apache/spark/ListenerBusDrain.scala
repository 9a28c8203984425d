package org.apache.spark

/** The listener bus delivers events asynchronously, and its drain call
  * is package-private: a spec that reads a listener right after an
  * action drains the queue through here first. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
