package org.apache.spark

/** Waits for the listener bus, so counters read after a phase include
  * every event the phase posted. The bus is `private[spark]`, hence the
  * package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
