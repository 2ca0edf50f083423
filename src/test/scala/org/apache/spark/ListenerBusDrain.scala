package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * spec's listener reads complete counts. The bus is `private[spark]`,
  * hence this one-line bridge in Spark's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
