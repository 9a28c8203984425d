package org.apache.spark

/** The listener bus delivers events asynchronously; reading a listener's
  * totals right after an action needs the queue drained first, and the
  * drain call is package-private. */
object BenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
