package org.apache.spark

/** The listener bus delivers task events asynchronously; a traced
  * iteration's layer totals are read only after every event of the
  * iteration has been delivered. `waitUntilEmpty` is package-private. */
object BenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
