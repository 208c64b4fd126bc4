package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * benchmark's listener has seen all of a round's jobs before its counters
  * are read or the listener is removed (`listenerBus` is `private[spark]`).
  */
object AqlBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
