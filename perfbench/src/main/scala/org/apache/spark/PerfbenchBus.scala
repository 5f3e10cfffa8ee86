package org.apache.spark

/** Flushes the listener bus so every event of a finished window has been
  * delivered before the harness aggregates it. The bus is package-private,
  * hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
