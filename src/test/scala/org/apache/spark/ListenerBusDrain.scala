package org.apache.spark

/** Delivers every queued listener event; Spark keeps the bus's drain
  * package-private. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
