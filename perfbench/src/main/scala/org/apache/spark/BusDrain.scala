package org.apache.spark

/** Waits until the SparkContext's listener bus has delivered every posted
  * event (the bus is private to the `org.apache.spark` package). */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
