package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * traced run reads complete counters. The bus is package-private. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
