package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * traced run reads complete listener state (the bus is private to Spark).
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
