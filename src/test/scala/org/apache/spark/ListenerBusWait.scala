package org.apache.spark

/** Waits until every event posted to the listener bus has been delivered
  * (the bus is private to Spark). Throws `TimeoutException` when the queue
  * has not drained within `timeoutMillis`, so a test that counts listener
  * events never passes by timing out.
  */
object ListenerBusWait {
  def drain(sc: SparkContext, timeoutMillis: Long = 10000): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
