package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * listener's view is complete before it is read (the bus is
  * asynchronous and its drain is package-private).
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
