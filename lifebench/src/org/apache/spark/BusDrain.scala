package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * traced run reads complete counters. The bus is `private[spark]`,
  * hence this one-line bridge in Spark's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
