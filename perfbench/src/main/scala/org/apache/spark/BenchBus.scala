package org.apache.spark

/** The listener bus is package-private; the traced run must wait for it to
  * deliver every task event before it reads the layer windows.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
