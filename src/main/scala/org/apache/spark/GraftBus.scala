package org.apache.spark

/** Flushes the listener bus so a reader sees a listener only after every
  * event posted so far has reached it. The bus is package-private, hence
  * this one-line bridge. */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
