package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark reads its
  * listener's counters only after every posted event has been handled. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
