package org.apache.spark

/** Flushes the listener bus so a spec reads a listener only after every
  * event posted so far has reached it. The bus is package-private, hence
  * this one-line bridge. */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
